package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Nomenclature

/** Precomputed, broadcastable match index over the (filtered,
  * ct-annotated) evidence dimension.
  *
  * The reference's matcher is an O(inputs x civic_variants x strings)
  * nested loop re-running `civic_match_strings` per input row
  * (reference: civicutils/match.py:590-638). Here the dimension side is
  * computed ONCE into an inverted index `match_string -> variant
  * positions` per gene and data type, then broadcast; per-turn matching
  * becomes O(keys) hash probes with zero shuffle — the design that
  * holds at 10^12 turns where the evidence dimension stays
  * knowledge-base-sized (broadcast-small) while the fact stream scales.
  *
  * Consensus drug-support count vectors are pre-aggregated per variant
  * into flat parallel arrays (`varSupIdx`/`varSupCnt` indexing into the
  * gene's `drugCtPrefix` table): the reference's majority vote
  * (match.py:1459-1493) counts leaf evidence items per (drug, ct),
  * which is additive across matched variants — so the per-turn vote is
  * a primitive-array sum, allocation-free on the hot path.
  */
final case class GeneDim(
    varIds: Array[String],
    varNames: Array[String],
    isGeneral: Array[Boolean],
    snvIndex: Map[String, Array[Int]],
    cnvIndex: Map[String, Array[Int]],
    exprIndex: Map[String, Array[Int]],
    exonCnvPositions: Array[Int],
    snvFallback: Array[Int],
    cnvFallback: Array[Int],
    exprFallback: Array[Int],
    /** "DRUG:CT:" prefixes, sorted by (drug, ct rank) — canonical
      * consensus output order. */
    drugCtPrefix: Array[String],
    /** per variant position: indices into drugCtPrefix. */
    varSupIdx: Array[Array[Int]],
    /** per variant position: 4 packed counts (pos,neg,unkB,unkD) per
      * index, flattened. */
    varSupCnt: Array[Array[Long]])

final case class DimIndex(genes: Map[String, GeneDim]) {
  def nGenes: Int = genes.size
  def nVariants: Int = genes.valuesIterator.map(_.varIds.length).sum
}

object DimIndex {

  /** Per-variant derived index entries — THE single definition of the
    * dimension side of the match-string index, shared by the broadcast
    * `build` below and the shuffle-regime `MatchShuffle` so the two
    * regimes cannot drift. `nameUpper` must already be uppercased.
    */
  final case class VariantIndexEntries(
      snvStrings: Seq[String],
      exprStrings: Seq[String],
      isExonCnv: Boolean,
      isGeneral: Boolean,
      isCnvRecord: Boolean,
      isExprRecord: Boolean)

  def variantIndexEntries(nameUpper: String, hgvs: Seq[String]): VariantIndexEntries = {
    // SNV strings: full pipeline (match.py:313-367); CNV/EXPR match on
    // the record name only (match.py:336); EXPR exon records also
    // match their expression type (match.py:720-728)
    val snv = Nomenclature.civicMatchStrings(nameUpper, hgvs, "SNV").distinct
    val (isExonExpr, exprType) = Nomenclature.exprIsExonString(nameUpper)
    val expr = nameUpper +:
      (if (isExonExpr && exprType.nonEmpty) Seq(exprType) else Nil)
    VariantIndexEntries(snv, expr,
      isExonCnv = Nomenclature.cnvIsExonString(nameUpper),
      isGeneral = Nomenclature.checkGeneralVariant(nameUpper),
      isCnvRecord = Nomenclature.isCnvRecordName(nameUpper),
      isExprRecord = Nomenclature.isExprRecordName(nameUpper))
  }

  /** One variant record: name and hgvs from its smallest-`dim_order`
    * row, `var_order` = that `dim_order` (scan-order position key).
    */
  final case class VariantRec(gene_key: String, var_id: String,
      var_name: String, hgvs: Seq[String], var_order: Long)

  /** The columns of one dimension row the broadcast build reads, with
    * its `CtClassifier.ctLabel` (null when deny-listed).
    */
  final case class IndexLeaf(gene_key: String, var_id: String,
      var_name: String, hgvs: Seq[String], dim_order: Long, mp_id: String,
      evidence_type: String, drug: String, direction: String,
      significance: String, ct: String)

  /** `drugSupportClass` values in `varSupCnt`'s packed count order. */
  private val SupportClasses =
    Seq("POSITIVE", "NEGATIVE", "UNKNOWN_BLANK", "UNKNOWN_DNS")

  /** Build the index from a flat evidence DataFrame (EvidenceRow
    * schema). `dim` should already be evidence-filtered
    * (EvidenceFilter); ct annotation/selection happens here because the
    * support vectors depend on it.
    *
    * Broadcast regime (`withConsensus = true`): ONE collect of the
    * ct-labelled dimension; the variant list (taken before ct
    * filtering, so a variant whose rows are all deny-listed keeps its
    * slot), the ct selection (`CtClassifier.selectLocal`) and the
    * PREDICTIVE support counts per (gene, var, drug, ct) are derived on
    * the driver. This is the driver-side form of
    * `DimShuffle.supportTable`; DimShuffleSpec pins the two equal for
    * every ct selection.
    *
    * `withConsensus = false` is the over-broadcast-threshold regime:
    * the dimension is never collected, only a distributed variant-level
    * aggregate, and `DimShuffle.consensusAnnotate` re-derives `ds_tier_*`
    * with shuffle joins (the kernel then emits empty support lists).
    */
  def build(spark: SparkSession, dim: DataFrame, ctCfg: CtConfig,
            selectCt: Either[String, Seq[String]] = Left("highest"),
            withConsensus: Boolean = true): DimIndex = {
    import spark.implicits._

    // (gene, var) -> (drug, ct) -> counts
    val supByVar = mutable.HashMap.empty[(String, String), mutable.HashMap[(String, String), Array[Long]]]
    val variants: Seq[VariantRec] = if (withConsensus) {
      val leaves = dim
        .select(col("gene_key"), col("var_id"), col("var_name"), col("hgvs"),
          col("dim_order"), col("mp_id"), col("evidence_type"), col("drug"),
          col("direction"), col("significance"),
          CtClassifier.ctLabel(col("disease"), ctCfg).as("ct"))
        .as[IndexLeaf].collect().toIndexedSeq
      // consensus support vectors (PREDICTIVE only, ct-selected;
      // reference: match.py:1420-1463)
      val selected = CtClassifier.selectLocal(leaves, selectCt)(_.ct,
        l => (l.gene_key, l.var_id, l.mp_id, l.evidence_type))
      for (l <- selected if l.evidence_type == "PREDICTIVE") {
        val cnt = supByVar
          .getOrElseUpdate((l.gene_key, l.var_id), mutable.HashMap.empty)
          .getOrElseUpdate((l.drug, l.ct), new Array[Long](4))
        cnt(SupportClasses.indexOf(
          Nomenclature.drugSupportClass(l.direction, l.significance))) += 1
      }
      leaves.groupBy(l => (l.gene_key, l.var_id)).valuesIterator.map { ls =>
        val l = ls.minBy(_.dim_order)
        VariantRec(l.gene_key, l.var_id, l.var_name, l.hgvs, l.dim_order)
      }.toSeq
    } else {
      dim.groupBy(col("gene_key"), col("var_id"))
        .agg(min_by(struct(col("var_name"), col("hgvs")), col("dim_order")).as("v"),
          min(col("dim_order")).as("var_order"))
        .select(col("gene_key"), col("var_id"), col("v.var_name"),
          col("v.hgvs"), col("var_order"))
        .as[VariantRec].collect().toSeq
    }

    val genes = variants.groupBy(_.gene_key).map { case (gene, rows) =>
      val ordered = rows.sortBy(_.var_order)
      val n = ordered.length
      val varIds = new Array[String](n)
      val varNames = new Array[String](n)
      val isGeneral = new Array[Boolean](n)
      val snvIdx = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      val cnvIdx = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      val exprIdx = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      val exonCnv = mutable.ArrayBuffer.empty[Int]
      val snvFb = mutable.ArrayBuffer.empty[Int]
      val cnvFb = mutable.ArrayBuffer.empty[Int]
      val exprFb = mutable.ArrayBuffer.empty[Int]

      // gene-level (drug, ct) vocabulary in canonical order
      val geneDrugCts = mutable.SortedSet.empty[(String, Int, String)](
        Ordering.Tuple3(Ordering.String, Ordering.Int, Ordering.String))
      for (r <- ordered;
           m <- supByVar.get((gene, r.var_id));
           (drug, ct) <- m.keys)
        geneDrugCts += ((drug, graft.model.Cts.rank(ct), ct))
      val drugCtList = geneDrugCts.toArray
      val drugCtIndex = drugCtList.zipWithIndex
        .map { case ((d, _, c), i) => (d, c) -> i }.toMap
      val drugCtPrefix = drugCtList.map { case (d, _, c) => s"$d:${c.toUpperCase}:" }
      val varSupIdx = new Array[Array[Int]](n)
      val varSupCnt = new Array[Array[Long]](n)

      for ((r, p) <- ordered.zipWithIndex) {
        val varId = r.var_id
        val name = r.var_name.toUpperCase
        val hgvs = r.hgvs
        varIds(p) = varId
        varNames(p) = name

        val sup = supByVar.getOrElse((gene, varId), mutable.HashMap.empty)
        val entries = sup.toArray.map { case ((d, c), cnt) => (drugCtIndex((d, c)), cnt) }
          .sortBy(_._1)
        varSupIdx(p) = entries.map(_._1)
        varSupCnt(p) = entries.flatMap(_._2)

        // shared per-variant derivation (the shuffle regime explodes
        // the same entries into a joinable relation)
        val e = variantIndexEntries(name, hgvs)
        isGeneral(p) = e.isGeneral
        for (s <- e.snvStrings)
          snvIdx.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += p
        cnvIdx.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += p
        for (s <- e.exprStrings)
          exprIdx.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += p
        // exon-CNV records: positional match for input DELETION
        // (match.py:627-638)
        if (e.isExonCnv) exonCnv += p
        // record-kind classification for tier-3 fallbacks
        // (match.py:219-310)
        if (!e.isCnvRecord && !e.isExprRecord) snvFb += p
        if (e.isCnvRecord) cnvFb += p
        if (e.isExprRecord) exprFb += p
      }
      gene -> GeneDim(varIds, varNames, isGeneral,
        snvIdx.view.mapValues(_.toArray).toMap,
        cnvIdx.view.mapValues(_.toArray).toMap,
        exprIdx.view.mapValues(_.toArray).toMap,
        exonCnv.toArray, snvFb.toArray, cnvFb.toArray, exprFb.toArray,
        drugCtPrefix, varSupIdx, varSupCnt)
    }
    DimIndex(genes)
  }
}
