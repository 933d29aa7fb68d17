package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import graft.operators.{MatchKernel, OutputAssembly, TierSelect}
import graft.sources.Synth

/** The fixed canary input whose output digests were recorded when the
  * benchmark was defined (`perfbench/digests.json`). Every run checks
  * the program still produces them, whatever its seed.
  */
object Canary {
  val config: Synth.TurnGenConfig = Synth.TurnGenConfig(nConvs = 200, turnsPerConv = 25,
    nGenes = Setup.Genes, unknownGeneFrac = 0.15, hotConvs = 2, hotMult = 5,
    dupRate = 0.01, lateRate = 0.005, seed = 0L)

  val path = Paths.get("perfbench", "digests.json")

  private val Entry = """"([a-z_]+)"\s*:\s*"([0-9:-]+)"""".r

  def recorded: Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else Entry.findAllMatchIn(Files.readString(path)).map(m => m.group(1) -> m.group(2)).toMap

  def check(name: String, d: Digest): Boolean = recorded.get(name).contains(d.toString)

  /** The canary through the kernel, TierSelect and output assembly,
    * with the setup's broadcast index and renders (no per-call builds).
    */
  def annotateBatch(env: Env): Digest = {
    val t = AnnotateBatch.turns(env.spark, config, 0, config.totalRows)
    val sel = TierSelect(MatchKernel.annotate(t, env.index), AnnotateBatch.Sel)
    Digest.of(OutputAssembly.writeMatchTable(sel, env.renders))
  }

  /** The canary through the stream's kernel and sink projection. */
  def streamRows(env: Env): Digest = {
    val spark = env.spark
    import spark.implicits._
    val bc = env.index
    val ann: DataFrame = AnnotateBatch.turns(spark, config, 0, config.totalRows)
      .mapPartitions { it => val idx = bc.value; it.map(t => MatchKernel.annotateTurn(t, idx)) }
      .toDF()
    Digest.of(StreamIngest.project(ann))
  }

  /** Writes `perfbench/digests.json` from the current program. */
  def main(argv: Array[String]): Unit = {
    val ctx = new Ctx(Args("record", 0L, 1, trace = false, argv.headOption.getOrElse(".bench_build")))
    val (env, _) = Setup.once(ctx, ctx.cores)
    val m = Seq("annotate_batch" -> annotateBatch(env), "stream_ingest" -> streamRows(env))
    Setup.stop(env.spark)
    Files.writeString(path, m.map { case (k, d) => s"""  "$k": "$d"""" }.mkString("{\n", ",\n", "\n}\n"))
    println(s"wrote $path")
  }
}
