package perfbench

import java.nio.file.Files
import scala.collection.immutable.ListMap

/** Benchmark entry point; see perfbench/README.md. Prints one line per
  * metric and context field, then the result JSON as the last line.
  */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "annotate_batch" -> AnnotateBatch.run,
    "stream_ingest" -> StreamIngest.run)

  /** The end-to-end metric and workload each per-layer metric is
    * expected to move (longest matching prefix wins).
    */
  val Moves: Seq[(String, String)] = Seq(
    "latency." -> "none gated: call latency on annotate_batch, arrival latency on stream_ingest",
    "sources." -> "turns_per_s on annotate_batch",
    "nomenclature." -> "turns_per_s on annotate_batch; a little turns_per_s on stream_ingest",
    "kernel." -> "turns_per_s on annotate_batch; a little turns_per_s on stream_ingest",
    "dim." -> "setup_s on both workloads",
    "output.renders_build_ms" -> "setup_s on both workloads",
    "regime." -> "none timed: the per-call cost of the auto entry points",
    "tier_select." -> "turns_per_s on annotate_batch",
    "output." -> "turns_per_s on annotate_batch",
    "ann.trigger." -> "latency.p50_ms on stream_ingest",
    "sess.trigger." -> "latency.p50_ms on stream_ingest",
    "roll.trigger." -> "latency.p50_ms on stream_ingest",
    "ann.trigger.add_batch_ms" -> "turns_per_s and latency.p90_ms on stream_ingest",
    "sess.trigger.add_batch_ms" -> "turns_per_s and latency.p90_ms on stream_ingest",
    "roll.trigger.add_batch_ms" -> "turns_per_s and latency.p90_ms on stream_ingest",
    "ann.state." -> "turns_per_s and latency.p90_ms on stream_ingest",
    "sess.state." -> "turns_per_s and latency.p90_ms on stream_ingest",
    "roll.state." -> "turns_per_s and latency.p90_ms on stream_ingest",
    "sink." -> "latency.p50_ms on stream_ingest",
    "spark." -> "turns_per_s on both workloads",
    "baseline." -> "turns_per_s on annotate_batch (per-core scaling)",
    "trace." -> "none: tracing overhead")

  def moves(metric: String): String =
    Moves.filter(m => metric.startsWith(m._1)).sortBy(-_._1.length).headOption.map(_._2)
      .getOrElse("unassigned")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", m.getOrElse("build-dir", ".bench_build"))
  }

  def main(argv: Array[String]): Unit = {
    val code = try {
      val args = parse(argv)
      val run = Workloads.getOrElse(args.workload,
        throw new IllegalArgumentException(
          s"unknown workload '${args.workload}' (${Workloads.keys.toSeq.sorted.mkString(", ")})"))
      val ctx = new Ctx(args)
      val cpuMs = Probes.cpuProbeMs()
      val o = run(ctx)
      report(ctx, o, cpuMs)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  def report(ctx: Ctx, o: Outcome, cpuMs: Double): Unit = {
    val a = ctx.args
    for (m <- o.endToEnd) println(f"metric ${m.name} = ${m.value}%.4f ${m.unit}")
    println(f"metric failed_frac = ${o.failed.toDouble / o.attempted}%.4f ratio")
    for ((k, v) <- o.context) println(s"context $k = ${Json.value(v)}")
    println(f"context cpu_probe_ms = $cpuMs%.3f")
    val phases = ctx.spans.all.filter(_.parent.isEmpty).groupBy(_.name).toSeq
      .map { case (n, ss) => n -> ss.map(_.durNs).sum / 1e9 }.sortBy(-_._2)
    println(s"context phases_s = ${Json.value(ListMap(phases: _*))}")
    for ((k, ok) <- o.checks) println(s"check $k = ${if (ok) "ok" else "FAILED"}")
    val stem = s"${a.workload}-seed${a.seed}"
    val results = Files.createDirectories(ctx.build.resolve("results"))
    if (!a.trace)
      Files.writeString(results.resolve(s"$stem.txt"),
        o.endToEnd.map(m => s"${m.name} ${m.value}\n").mkString)
    else {
      // tracing overhead: this run's end-to-end values minus those of
      // the last untraced run of the same workload and seed
      val prev = results.resolve(s"$stem.txt")
      val untraced =
        if (!Files.exists(prev)) Map.empty[String, Double]
        else Files.readAllLines(prev).toArray.map(_.toString.split(" "))
          .collect { case Array(k, v) => k -> v.toDouble }.toMap
      val overhead = o.endToEnd.flatMap(m => untraced.get(m.name).map(u => m.name -> (m.value - u)))
      if (overhead.isEmpty) println(s"trace overhead: no untraced run of $stem in $results")
      for ((k, d) <- overhead) println(s"trace overhead $k = $d (traced minus untraced)")
      val dir = Files.createDirectories(ctx.build.resolve("trace"))
      ctx.spans.writeJson(dir.resolve(s"$stem-spans.json"))
      def entry(m: Metric, more: (String, Any)*) =
        ListMap(Seq("name" -> m.name, "value" -> m.value, "unit" -> m.unit) ++ more: _*)
      Files.writeString(dir.resolve(s"$stem-layers.json"), Json.obj(
        "workload" -> a.workload, "seed" -> a.seed, "run_id" -> ctx.spans.runId,
        "cpu_probe_ms" -> cpuMs,
        "end_to_end_traced" -> o.endToEnd.map(entry(_)),
        "trace_overhead" -> ListMap(overhead: _*),
        "context" -> ListMap(o.context: _*),
        "per_layer" -> o.perLayer.map(m => entry(m, "moves" -> moves(m.name)))) + "\n")
      for (m <- o.perLayer) println(s"layer ${m.name} = ${m.value} ${m.unit}  (moves ${moves(m.name)})")
      println(s"trace files: ${dir.resolve(stem + "-spans.json")} ${dir.resolve(stem + "-layers.json")}")
    }
    val ms = if (a.trace) o.perLayer else o.endToEnd
    val metrics = ms.map(m => Json.str(m.name) + ":" + Json.obj("value" -> m.value, "unit" -> m.unit))
      .mkString("{", ",", "}")
    println(s"""{"correct":${o.correct},"attempted":${o.attempted},"failed":${o.failed},"metrics":$metrics}""")
  }
}
