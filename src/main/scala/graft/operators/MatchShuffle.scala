package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Turn

/** SHUFFLE-regime tier matching — the non-broadcast counterpart of
  * `MatchKernel` + `DimIndex` for a dimension whose exploded
  * match-string index is too large to collect to the driver at all
  * (a civic-scale×100 knowledge base with wide hgvs/alias fan-out).
  * This is SURVEY §2.3 J2's explode + equi-join formulation of the
  * reference's nested-loop matcher (match.py:590-638): both sides
  * normalize to (gene_key, domain, match_string) keys and the
  * O(V×C×S) loop becomes one shuffle hash join.
  *
  * Regime economics: the broadcast kernel is map-only on the fact
  * stream — the right default while the dimension is
  * knowledge-base-sized. THIS path shuffles the per-turn key explode
  * (bounded by keys per turn, not dimension size) and the matched
  * hits (bounded by matches per turn), so it survives any dimension
  * size at the cost of fact-side exchanges. `DimShuffle.annotateAuto`
  * picks the regime; output is row-for-row identical to the
  * broadcast kernel (MatchShuffleSpec parity pin; the q66 oracle
  * shares q21's).
  *
  * Drift discipline: the dimension side derives through
  * `DimIndex.variantIndexEntries` and the turn side through
  * `MatchKernel.parse`/`MatchKernel.keyBits` — the SAME functions the
  * broadcast build and kernel use; only the per-turn tier assembly is
  * re-expressed sparsely (over matched positions instead of the dense
  * per-gene arrays), with parity pinned across every tier path.
  */
object MatchShuffle {

  /** One matched (variant position, OR-ed tier bits) per turn. */
  final case class Hit(pos: Int, flags: Int, var_id: String, is_general: Boolean)
  /** One fallback record of the turn's (gene, data type). */
  final case class FbEntry(pos: Int, var_id: String)
  /** A turn joined with its matched hits + fallback candidates. */
  final case class TurnHits(
      conv_id: String, turn_idx: Int, role: String, ts: Timestamp,
      gene_key: String, data_type: String,
      hits: Seq[Hit], fb: Seq[FbEntry], gene_exists: Boolean)

  // encoder-visible (Catalyst's generated [de]serializers cannot
  // access private classes), internal to the operator in spirit
  final case class VariantRaw(
      gene_key: String, var_id: String, var_name: String,
      hgvs: Seq[String], pos: Int)

  /** Variant record with its derived index entries — the regex-heavy
    * `variantIndexEntries` derivation runs ONCE per variant into the
    * persisted relation; the string explode and the flag/fallback
    * tables below are cheap re-reads of the stored arrays.
    */
  final case class VariantMeta(
      gene_key: String, var_id: String, var_name: String, pos: Int,
      snv_strings: Seq[String], expr_strings: Seq[String],
      is_general: Boolean, is_cnv: Boolean, is_expr: Boolean,
      is_exon_cnv: Boolean)

  final case class ParsedTurn(
      conv_id: String, turn_idx: Int, role: String, ts: Timestamp,
      gene_key: String, data_type: String,
      keys: Seq[(String, String, Int)])

  /** Tier annotation via distributed joins; `ds_tier_*` re-derived by
    * `DimShuffle.consensusAnnotate` (the same shuffle consensus the
    * over-broadcast-threshold regime already uses).
    *
    * PRECONDITION: `turns` must be unique per (conv_id, turn_idx) —
    * the transcript table's primary key (it is what the exactly-once
    * sink and the streaming dedup key on). Matched hits aggregate on
    * that key, so duplicate-key rows would have their hits MERGED,
    * where the broadcast kernel annotates every physical row
    * independently; on key-unique input the two regimes are
    * row-for-row identical (MatchShuffleSpec).
    */
  def annotate(spark: SparkSession, turns: Dataset[Turn], dim: DataFrame,
               ctCfg: CtConfig,
               selectCt: Either[String, Seq[String]] = Left("highest")): Dataset[Annotation] = {
    val dimP = CacheRegistry.persistTracked(dim)
    DimShuffle.consensusAnnotate(
      annotateNoConsensus(spark, turns, dimP),
      DimShuffle.supportTable(dimP, ctCfg, selectCt))
  }

  /** The tier half (empty support lists) — exposed for parity tests. */
  private[operators] def annotateNoConsensus(
      spark: SparkSession, turns: Dataset[Turn], dim: DataFrame): Dataset[Annotation] = {
    import spark.implicits._

    // 1. variant-level records with per-gene scan-order positions —
    //    name/hgvs from the smallest-dim_order row, as `DimIndex.build`
    //    takes them, kept distributed. The window is
    //    per-gene: per-key cardinality is one gene's variant count
    //    (the same boundedness GeneDim assumes), never the dimension.
    val wGene = Window.partitionBy(col("gene_key")).orderBy(col("var_order"))
    val varMeta = CacheRegistry.persistTrackedDs(dim
      .groupBy(col("gene_key"), col("var_id"))
      .agg(min_by(struct(col("var_name"), col("hgvs")), col("dim_order")).as("v"),
        min(col("dim_order")).as("var_order"))
      .withColumn("pos", (row_number().over(wGene) - 1).cast("int"))
      .select(col("gene_key"), col("var_id"),
        upper(col("v.var_name")).as("var_name"), col("v.hgvs"), col("pos"))
      .as[VariantRaw]
      .map { v =>
        val e = DimIndex.variantIndexEntries(v.var_name, v.hgvs)
        VariantMeta(v.gene_key, v.var_id, v.var_name, v.pos,
          e.snvStrings, e.exprStrings, e.isGeneral,
          e.isCnvRecord, e.isExprRecord, e.isExonCnv)
      })

    // 2. dimension-side index entries, exploded to joinable rows —
    //    the same variantIndexEntries the broadcast build consumes
    val dimEntries = varMeta.flatMap { v =>
      v.snv_strings.map(s => (v.gene_key, "SNV", s, v.pos)) ++
        Seq((v.gene_key, "CNV", v.var_name, v.pos)) ++
        v.expr_strings.map(s => (v.gene_key, "EXPR", s, v.pos)) ++
        (if (v.is_exon_cnv) Seq((v.gene_key, "CNV_EXON", "DELETION", v.pos)) else Nil)
    }.toDF("gene_key", "domain", "s", "pos")

    // per-variant flags / per-(gene, domain) fallback lists
    val varFlags = varMeta.toDF()
      .select(col("gene_key"), col("pos"), col("var_id"), col("is_general"),
        col("is_cnv").as("_is_cnv"), col("is_expr").as("_is_expr"))
    val fallback = varFlags.select(col("gene_key"), col("pos"), col("var_id"),
        explode(concat(
          when(!col("_is_cnv") && !col("_is_expr"), array(lit("SNV")))
            .otherwise(array().cast("array<string>")),
          when(col("_is_cnv"), array(lit("CNV")))
            .otherwise(array().cast("array<string>")),
          when(col("_is_expr"), array(lit("EXPR")))
            .otherwise(array().cast("array<string>")))).as("data_type"))
      .groupBy(col("gene_key"), col("data_type"))
      .agg(sort_array(collect_list(struct(col("pos"), col("var_id")))).as("fb"))
    val genes = varMeta.toDF().select(col("gene_key")).distinct()
      .withColumn("gene_exists", lit(true))

    // 3. turn side: ONE parse per turn feeds both the key explode and
    //    the final assembly (persisted — the relation is consumed
    //    twice and Spark has no cross-branch subtree reuse)
    val parsed = CacheRegistry.persistTrackedDs(turns.map { t =>
      val p = MatchKernel.parse(t)
      ParsedTurn(t.conv_id, t.turn_idx, t.role, t.ts, p.geneKey, p.dataType,
        MatchKernel.keyBits(p).distinct)
    })
    val turnKeys = parsed.flatMap(p =>
        p.keys.map(k => (p.conv_id, p.turn_idx, p.gene_key, k._1, k._2, k._3)))
      .toDF("conv_id", "turn_idx", "gene_key", "domain", "s", "bit")

    // 4. THE match join: equi-join on (gene_key, domain, match string),
    //    then OR the tier bits per matched variant position — the
    //    reference's nested loop as one shuffle hash join
    val matched = turnKeys
      .join(dimEntries, Seq("gene_key", "domain", "s"))
      .groupBy(col("conv_id"), col("turn_idx"), col("gene_key"), col("pos"))
      .agg(bit_or(col("bit")).cast("int").as("flags"))
      .join(varFlags.select(col("gene_key"), col("pos"), col("var_id"),
        col("is_general")), Seq("gene_key", "pos"))
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(sort_array(collect_list(struct(col("pos"), col("flags"),
        col("var_id"), col("is_general")))).as("hits"))

    // 5. assembly: every turn appears exactly once (left joins); hits
    //    bounded by matches per turn, fb by the gene's record count
    parsed.toDF()
      .select(col("conv_id"), col("turn_idx"), col("role"), col("ts"),
        col("gene_key"), col("data_type"))
      .join(matched, Seq("conv_id", "turn_idx"), "left")
      .join(fallback, Seq("gene_key", "data_type"), "left")
      .join(genes, Seq("gene_key"), "left")
      .select(col("conv_id"), col("turn_idx"), col("role"), col("ts"),
        col("gene_key"), col("data_type"),
        coalesce(col("hits"), array().cast(
          "array<struct<pos:int,flags:int,var_id:string,is_general:boolean>>")).as("hits"),
        coalesce(col("fb"), array().cast(
          "array<struct<pos:int,var_id:string>>")).as("fb"),
        coalesce(col("gene_exists"), lit(false)).as("gene_exists"))
      .as[TurnHits]
      .map(assemble)
  }

  /** Sparse tier assembly over matched positions — semantics
    * identical to the dense kernel (general-variant promotion,
    * tier-3 fallback, sentinels, tier_4 on gene miss); parity pinned
    * across every path in MatchShuffleSpec. Support lists are empty
    * here (the shuffle consensus fills them).
    */
  private[operators] def assemble(th: TurnHits): Annotation = {
    if (!th.gene_exists)
      return Annotation(th.conv_id, th.turn_idx, th.role, th.ts,
        th.gene_key, th.data_type, Nil, Nil, Nil, Nil,
        tier_4 = true, "tier_4", Nil, Nil, Nil, Nil)
    // hits arrive pos-ascending (sort_array); promotion: the first
    // scan-order general positional match keeps bit 4, all other
    // positions lose it (match.py:644-652)
    var hits = th.hits
    if (th.data_type == "SNV") {
      hits.find(h => (h.flags & 4) != 0 && h.is_general).foreach { fg =>
        hits = hits.map(h =>
          if (h.pos != fg.pos) h.copy(flags = h.flags & ~4) else h)
      }
    }
    val t1 = hits.filter(h => (h.flags & 1) != 0).map(_.var_id)
    val t1b = hits.filter(h => (h.flags & 2) != 0).map(_.var_id)
    val t2 = hits.filter(h => (h.flags & 4) != 0).map(_.var_id)
    val t3: Seq[String] =
      if (t1.nonEmpty || t1b.nonEmpty || t2.nonEmpty) Nil
      else if (th.fb.nonEmpty) th.fb.map(_.var_id)
      else List(s"NON_${th.data_type}_MATCH_ONLY")
    val highest =
      if (t1.nonEmpty) "tier_1" else if (t1b.nonEmpty) "tier_1b"
      else if (t2.nonEmpty) "tier_2" else "tier_3"
    Annotation(th.conv_id, th.turn_idx, th.role, th.ts,
      th.gene_key, th.data_type, t1, t1b, t2, t3,
      tier_4 = false, highest, Nil, Nil, Nil, Nil)
  }
}
