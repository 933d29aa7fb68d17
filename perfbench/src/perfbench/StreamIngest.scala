package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import graft.model.Turn
import graft.operators.MatchKernel
import graft.plans.IcebergLikeTable
import graft.sources.Synth
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.StreamConfig

/** `stream_ingest`: StreamRun's job — annotationsDedupFirst, an
  * annotation commit through IcebergLikeTable.replacePartitions,
  * sessionAutomaton and tierRollup — as three streaming queries on the
  * default trigger over one file source, in two phases:
  *  - catch-up: a staged backlog spanning several triggers is drained;
  *  - tail: an open-loop generator moves one staged file into the
  *    source directory every `PeriodMs`, stamped with its due time, and
  *    never waits for the job.
  */
object StreamIngest {

  /** Input layout: a backlog of `backlogFiles` files of `backlogTurns`
    * turns, drained in `triggers` triggers (a per-trigger byte cap of
    * `backlogFiles / triggers` files plus half a file), then tail files
    * of `tailTurns` turns, one every `periodMs`.
    */
  final case class Shape(convs: Int, backlogFiles: Int, backlogTurns: Int, triggers: Int,
                         tailTurns: Int, periodMs: Long) {
    def arrivals(seconds: Int): Int = (seconds * 1000 / periodMs).toInt
    private def backlogRows = backlogFiles.toLong * backlogTurns
    /** The staged file holding row `i` of the arrival order. */
    def fileOf(i: Long): Int =
      if (i < backlogRows) (i / backlogTurns).toInt
      else backlogFiles + ((i - backlogRows) / tailTurns).toInt
    /** First row of staged file `f`. */
    def firstRow(f: Int): Long =
      if (f <= backlogFiles) f.toLong * backlogTurns
      else backlogRows + (f - backlogFiles).toLong * tailTurns
  }

  /** The full-size run: a 10k-turn backlog in 2 triggers of a cold job,
    * then one 40-turn file every 150 ms (267 turns/s offered, about half
    * the catch-up rate) for `--seconds`: 66 arrivals at 10 s, which
    * support p75 (p90 needs 100; the run budget does not leave room for
    * the 15 s that takes). The job's cost grows with the number of files
    * per trigger as well as with rows; at this file rate the tail
    * triggers stay short of saturation, and the byte cap never binds on
    * tail files.
    */
  val Full = Shape(convs = 620, backlogFiles = 4, backlogTurns = 2500, triggers = 2,
    tailTurns = 40, periodMs = 150)
  /** The small run the annotate_batch traced run uses to report the
    * streaming layers: 2.4k turns in 2 triggers, no tail.
    */
  val Small = Shape(convs = 100, backlogFiles = 4, backlogTurns = 600, triggers = 2,
    tailTurns = 40, periodMs = 150)

  def genConfig(seed: Long, s: Shape): Synth.TurnGenConfig =
    Synth.TurnGenConfig(nConvs = s.convs, turnsPerConv = 25, nGenes = Setup.Genes,
      unknownGeneFrac = 0.15, hotConvs = math.max(1, s.convs / 100), hotMult = 5,
      dupRate = 0.01, lateRate = 0.005, seed = seed)

  /** Arrival position of a generated turn: the event time it would carry
    * were it neither late nor a re-delivery. A duplicate sorts right
    * after its original, a late row keeps its arrival slot but carries
    * an event time one hour earlier.
    */
  def arrivalMs(t: Turn, cfg: Synth.TurnGenConfig): Long =
    cfg.baseTs + t.conv_id.stripPrefix("conv").toLong * 3600000L + t.turn_idx.toLong * cfg.stepMs

  /** Stage the seed's input as event-time-ordered parquet files named
    * `000000.parquet`, ... (cached per seed and shape).
    */
  def stage(ctx: Ctx, spark: SparkSession, s: Shape, tag: String): (Path, Seq[(Path, Long)]) = {
    import spark.implicits._
    val cfg = genConfig(ctx.args.seed, s)
    val dir = ctx.stageRoot.resolve(
      s"stream-$tag-seed${ctx.args.seed}-c${s.convs}-b${s.backlogFiles}x${s.backlogTurns}-t${s.tailTurns}")
    val files = dir.resolve("files")
    val done = dir.resolve("_STAGED")
    if (!Files.exists(done)) ctx.spans.time("stage") {
      Fs.delete(dir)
      val rows = Synth.transcriptRows(cfg)
        .sortBy(t => (arrivalMs(t, cfg), t.ts.getTime))
      val nFiles = s.fileOf(rows.size - 1L) + 1
      val tmp = dir.resolve("tmp")
      rows.zipWithIndex.map { case (t, i) => (s.fileOf(i.toLong), i, t) }
        .toDF("f", "i", "t")
        .repartition(ctx.cores, col("f")).sortWithinPartitions("f", "i")
        .select(col("f"), col("t.*"))
        .write.partitionBy("f").parquet(tmp.toString)
      Files.createDirectories(files)
      for (f <- 0 until nFiles) {
        val parts = Files.list(tmp.resolve(s"f=$f")).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        require(parts.size == 1, s"file $f staged as ${parts.size} parts")
        Files.move(parts.head, files.resolve(f"$f%06d.parquet"))
      }
      Fs.delete(tmp)
      Files.writeString(done, cfg.toString)
    }
    val total = cfg.totalRows
    val list = Files.list(files).iterator().asScala.toList.sortBy(_.getFileName.toString)
    (files, list.zipWithIndex.map { case (p, f) =>
      p -> (math.min(s.firstRow(f + 1), total) - s.firstRow(f))
    })
  }

  // ---------------------------------------------------------------- the job

  final class Job(val root: Path, val queries: Seq[StreamingQuery],
                  val commitNs: ConcurrentHashMap[Long, Long],
                  val sinkMs: java.util.concurrent.ConcurrentLinkedQueue[Double],
                  val table: IcebergLikeTable, val source: Path) {
    def drain(): Unit = queries.foreach(_.processAllAvailable())
    def stop(): Unit = queries.foreach { q => q.stop(); q.awaitTermination() }
    def progress(name: String): Seq[StreamingQueryProgress] =
      queries.find(_.name == name).map(_.recentProgress.toSeq).getOrElse(Nil)
  }

  def start(env: Env, root: Path, maxBytesPerTrigger: Long, cores: Int): Job = {
    val spark = env.spark
    import spark.implicits._
    val source = Files.createDirectories(root.resolve("source"))
    val cfg = StreamConfig(partitions = cores)
    val schema = implicitly[org.apache.spark.sql.Encoder[Turn]].schema
    val turns = spark.readStream.schema(schema)
      .option("maxBytesPerTrigger", maxBytesPerTrigger.toString)
      .parquet(source.toString).as[Turn]
    val ann = StreamingPipeline.annotationsDedupFirst(turns, env.index, cfg)
    val table = new IcebergLikeTable(root.resolve("annotations").toString,
      Seq("data_type", "conv_bucket"))
    val commits = new ConcurrentHashMap[Long, Long]()
    val sinkMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    // startAnnotationSink hard-codes AvailableNow; this is its commit on
    // the default trigger: the same bucket and tiers_json projection
    // through the same public replacePartitions call
    val qAnn = ann.toDF().writeStream.queryName("ann")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", root.resolve("ckpt_ann").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        table.replacePartitions(project(batch), batchId)
        val t1 = System.nanoTime()
        sinkMs.add((t1 - t0) / 1e6)
        commits.put(batchId, t1)
        ()
      }.start()
    val qSess = StreamingPipeline.sessionAutomaton(ann, cfg)
      .writeStream.queryName("sess").outputMode(OutputMode.Append)
      .option("checkpointLocation", root.resolve("ckpt_sess").toString)
      .format("parquet").option("path", root.resolve("sessions").toString)
      .start()
    val qRoll = StreamingPipeline.tierRollup(ann, cfg)
      .writeStream.queryName("roll").outputMode(OutputMode.Append)
      .option("checkpointLocation", root.resolve("ckpt_roll").toString)
      .format("parquet").option("path", root.resolve("rollups").toString)
      .start()
    new Job(root, Seq(qAnn, qSess, qRoll), commits, sinkMs, table, source)
  }

  /** startAnnotationSink's projection of an annotation batch. */
  def project(batch: DataFrame, nBuckets: Int = 16): DataFrame =
    batch.withColumn("conv_bucket", pmod(hash(col("conv_id")), lit(nBuckets)))
      .withColumn("tiers_json", to_json(struct(
        col("tier_1"), col("tier_1b"), col("tier_2"), col("tier_3"))))
      .drop("tier_1", "tier_1b", "tier_2", "tier_3",
        "ds_tier_1", "ds_tier_1b", "ds_tier_2", "ds_tier_3")

  /** Copy staged files into `dir` with increasing mtimes (oldest first). */
  def place(files: Seq[Path], dir: Path, mtimeStartMs: Long): Unit =
    files.zipWithIndex.foreach { case (f, i) =>
      val dst = dir.resolve(f.getFileName)
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeStartMs + i))
    }

  /** File name -> log offset of the file source that listed it, from
    * the source's checkpoint log.
    */
  def logOffsetOfFile(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.exists(dir)) return Map.empty
    val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    Files.list(dir).iterator().asScala.toList
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case Entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong }
      .toMap
  }

  private val LogOffset = """"logOffset"\s*:\s*(-?\d+)""".r.unanchored

  /** Source log offset -> the micro-batch that read it. The source log
    * numbers only listings that found new files, while the query also
    * runs batches without new data (to move the watermark), so the two
    * counters drift apart and must be joined through the progress.
    */
  def batchOfLogOffset(progress: Seq[StreamingQueryProgress]): Map[Long, Long] =
    progress.filter(_.numInputRows > 0).flatMap { p =>
      val src = p.sources.head
      val start = Option(src.startOffset).collect { case LogOffset(o) => o.toLong }.getOrElse(-1L)
      val end = Option(src.endOffset).collect { case LogOffset(o) => o.toLong }.getOrElse(-1L)
      ((start + 1) to end).map(_ -> p.batchId)
    }.toMap

  // --------------------------------------------------------------- the tail

  final case class Tail(latencyMs: Seq[Double], generatorLateMs: Seq[Double],
                        uncommitted: Int)

  /** Open loop: file `i` is due at `t0 + i * period`; the generator moves
    * it into the source at (or as soon as possible after) its due time
    * and stamps the due time as its mtime. Latency of a file = commit of
    * the annotation micro-batch holding it minus its due time.
    */
  def tail(job: Job, files: Seq[Path], pending: Path, s: Shape): Tail = {
    place(files, pending, 0L)
    val names = files.map(_.getFileName.toString)
    val periodNs = s.periodMs * 1000000L
    val wall0 = System.currentTimeMillis() + s.periodMs
    val pacer = new Pacer(System.nanoTime() + periodNs, periodNs)
    val late = new Array[Double](names.size)
    val gen = new Thread(() => {
      for (i <- names.indices) {
        pacer.awaitDue(i)
        val dst = job.source.resolve(names(i))
        Files.move(pending.resolve(names(i)), dst, StandardCopyOption.ATOMIC_MOVE)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(wall0 + i * s.periodMs))
        late(i) = pacer.latenessNs(i, System.nanoTime()) / 1e6
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    job.drain()
    val offsetOf = logOffsetOfFile(job.root.resolve("ckpt_ann"))
    val batchOf = batchOfLogOffset(job.progress("ann"))
    val lat = names.indices.flatMap { i =>
      offsetOf.get(names(i)).flatMap(batchOf.get).flatMap(b => Option(job.commitNs.get(b)))
        .map(c => (c - pacer.dueNs(i)) / 1e6)
    }
    Tail(lat, late.toSeq, names.size - lat.size)
  }

  // ---------------------------------------------------------------- checks

  /** Output checks on the committed annotation table, outside every
    * timed region:
    *  - no duplicate (conv_id, turn_idx);
    *  - every committed row equals MatchKernel.annotateTurn of an input
    *    turn (under the sink's projection);
    *  - committed rows + dedup drops + late drops = input rows.
    */
  def checks(env: Env, job: Job, inputs: Seq[Path]): (Seq[(String, Boolean)], Map[String, Long]) = {
    val spark = env.spark
    import spark.implicits._
    val committed = job.table.read(spark).drop("_batch_id").cache()
    val nCommitted = committed.count()
    val dupKeys = committed.groupBy("conv_id", "turn_idx").count()
      .filter(col("count") > 1).count()
    val bc = env.index
    val input = spark.read.parquet(inputs.map(_.toString): _*).as[Turn]
    val nInput = input.count()
    val expected = project(input.mapPartitions { it =>
      val idx = bc.value
      it.map(t => MatchKernel.annotateTurn(t, idx))
    }.toDF())
    val cols = committed.columns.toSeq.map(col)
    val unexplained = committed.select(cols: _*).exceptAll(expected.select(cols: _*)).count()
    committed.unpersist()
    val ops = job.progress("ann").flatMap(_.stateOperators)
    val dedupDrops = ops.map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.longValue).getOrElse(0L)).sum
    val lateDrops = ops.map(_.numRowsDroppedByWatermark).sum
    (Seq("no_duplicate_keys" -> (dupKeys == 0),
      "rows_equal_kernel" -> (unexplained == 0 && nCommitted > 0),
      "rows_accounted" -> (nCommitted + dedupDrops + lateDrops == nInput),
      "canary_digest" -> Canary.check("stream_ingest", Canary.streamRows(env))),
      Map("committed" -> nCommitted, "dedup_drops" -> dedupDrops,
        "late_drops" -> lateDrops, "input_rows" -> nInput))
  }

  // ----------------------------------------------------------------- trace

  /** Per-query trigger and state metrics from recentProgress. */
  def streamLayers(job: Job): Seq[Metric] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val perQuery = Seq("ann", "sess", "roll").flatMap { q =>
      val ps = job.progress(q)
      def dur(k: String) = med(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
      val lastOps = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
      Seq(
        Metric(s"$q.trigger.count", ps.size.toDouble, "count"),
        Metric(s"$q.trigger.latest_offset_ms", dur("latestOffset"), "ms"),
        Metric(s"$q.trigger.query_planning_ms", dur("queryPlanning"), "ms"),
        Metric(s"$q.trigger.wal_commit_ms", dur("walCommit"), "ms"),
        Metric(s"$q.trigger.commit_offsets_ms", dur("commitOffsets"), "ms"),
        Metric(s"$q.trigger.add_batch_ms", dur("addBatch"), "ms"),
        Metric(s"$q.state.rows", lastOps.map(_.numRowsTotal).sum.toDouble, "count"),
        Metric(s"$q.state.memory_bytes", lastOps.map(_.memoryUsedBytes).sum.toDouble, "bytes"),
        Metric(s"$q.state.commit_ms", med(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms"),
        Metric(s"$q.state.rows_dropped_late",
          ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble, "count"))
    }
    val sink = job.sinkMs.asScala.toSeq
    perQuery ++ Seq(
      Metric("sink.replace_partitions_p50_ms", if (sink.isEmpty) 0.0 else Stats.percentile(sink, 50), "ms"),
      Metric("sink.replace_partitions_p90_ms", if (sink.isEmpty) 0.0 else Stats.percentile(sink, 90), "ms"),
      Metric("sink.snapshots", job.table.snapshots().size.toDouble, "count"))
  }

  /** Event-time lag of each query's watermark behind the newest event
    * at its last trigger with data, in seconds. Reported as context: the
    * event times are synthetic, so on a fixed batch layout the value
    * repeats exactly from run to run.
    */
  def watermarkLagS(job: Job): Seq[(String, Double)] = {
    def isoMs(s: String) = java.time.Instant.parse(s).toEpochMilli
    Seq("ann", "sess", "roll").map { q =>
      s"$q.watermark_lag_s" -> job.progress(q).reverseIterator.flatMap { p =>
        for (mx <- Option(p.eventTime.get("max")); wm <- Option(p.eventTime.get("watermark")))
          yield (isoMs(mx) - isoMs(wm)) / 1000.0
      }.nextOption().getOrElse(0.0)
    }
  }

  /** A small catch-up (no tail) for traced runs of other workloads, so
    * every traced run reports the streaming layers.
    */
  def probe(ctx: Ctx, env: Env): Seq[Metric] = ctx.spans.time("stream_probe") {
    val (_, files) = stage(ctx, env.spark, Small, "probe")
    val (job, _) = catchUp(ctx, env, Small, files.take(Small.backlogFiles).map(_._1), "probe")
    try streamLayers(job) finally job.stop()
  }

  // ------------------------------------------------------------------- run

  /** A fresh job started on a source that already holds `backlog`;
    * returns the running job and the seconds until all three queries
    * have committed the backlog (the restart-with-backlog throughput,
    * first-trigger planning and JIT included).
    */
  def catchUp(ctx: Ctx, env: Env, s: Shape, backlog: Seq[Path], name: String): (Job, Double) = {
    val root = ctx.fresh(ctx.runDir.resolve(name))
    val source = Files.createDirectories(root.resolve("source"))
    place(backlog, source, System.currentTimeMillis() - 60000)
    val fileBytes = backlog.map(Files.size).max
    val cap = fileBytes * (s.backlogFiles / s.triggers) + fileBytes / 2
    val t0 = System.nanoTime()
    val job = start(env, root, cap, ctx.cores)
    try {
      ctx.spans.time(s"$name.catchup")(job.drain())
      (job, (System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => job.stop(); throw e }
  }

  def run(ctx: Ctx): Outcome = {
    val s = Full
    val (env, setupS) = Setup.once(ctx, ctx.cores)
    val (_, files) = stage(ctx, env.spark, s, "full")
    val backlog = files.take(s.backlogFiles)
    val backlogTurns = backlog.map(_._2).sum
    val tailFiles = files.drop(s.backlogFiles).take(s.arrivals(ctx.args.seconds))
    val listener = new StageListener
    if (ctx.args.trace) env.spark.sparkContext.addSparkListener(listener)
    val (job, catchUpS) = catchUp(ctx, env, s, backlog.map(_._1), "job")
    val t = try ctx.spans.time("tail")(tail(job, tailFiles.map(_._1),
        Files.createDirectories(job.root.resolve("pending")), s))
      finally job.stop()
    val engine = listener.metrics
    val triggerMs = Seq("ann", "sess", "roll").map(q => s"$q.trigger_ms" ->
      job.progress(q).map(p => Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
    val inputs = backlog ++ tailFiles
    val (checked, counts) = ctx.spans.time("checks")(checks(env, job, inputs.map(_._1)))
    val rate = backlogTurns / catchUpS
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("turns_per_s", rate, "1/s"),
      Metric("peak_rss_mb", Probes.peakRssMb(), "MB"))
    val latency = Latency.metrics(t.latencyMs)
    val perLayer =
      if (!ctx.args.trace) { Setup.stop(env.spark); Nil }
      else {
        val sample = AnnotateBatch.stageSample(ctx, env.spark)
        latency ++ engine ++ streamLayers(job) ++ AnnotateBatch.traceLayers(ctx, env, listener, sample)
      }
    val failedChecks = checked.count(!_._2)
    Outcome(correct = failedChecks == 0 && t.uncommitted == 0,
      attempted = inputs.size + checked.size,
      failed = t.uncommitted + failedChecks, e2e, perLayer,
      Seq("catchup_s" -> catchUpS, "catchup_turns" -> backlogTurns,
        "tail_arrivals" -> tailFiles.size,
        "latency_highest_supported_pct" -> Stats.highestSupported(t.latencyMs.size)) ++
        latency.map(m => m.name -> m.value) ++ Seq(
        "generator.late_ms_p90" -> Stats.percentile(t.generatorLateMs, 90),
        "offered_turns_per_s" -> tailFiles.map(_._2).sum * 1000.0 / (tailFiles.size * s.periodMs)) ++
        counts.toSeq ++ watermarkLagS(job) ++ triggerMs,
      checked)
  }
}
