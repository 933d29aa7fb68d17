package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Cts

/** Cancer-type-specificity (ct) classification and selection —
  * the reference's `classify_diseases` / `annotate_ct` / `filter_ct`
  * (reference: civicutils/match.py:1055-1350) on the flat dimension.
  *
  * The reference classifies the disease list of every
  * (gene, variant, mp, evidence_type) group and physically rebuilds the
  * 9-level dict with an extra ct layer (match.py:1198). On the flat
  * schema the classification is a per-row label (each disease is
  * classified independently of the others in its group —
  * match.py:1090-1141 never looks across diseases) and the dict rebuild
  * disappears. Deny-listed diseases are dropped, exactly as the
  * reference removes them from the clean set (match.py:1088-1107).
  */
final case class CtConfig(
    diseaseNameNotIn: Seq[String] = Nil,
    diseaseNameIn: Seq[String] = Nil,
    altDiseaseNames: Seq[String] = Nil)

object CtClassifier {

  /** Row-level ct label for a disease column: 'ct' on partial allow
    * match, 'gt' on exact alt-name match, else 'nct'; null when
    * deny-listed (caller drops those rows).
    */
  def ctLabel(disease: Column, cfg: CtConfig): Column = {
    val deny = cfg.diseaseNameNotIn.map(_.toUpperCase)
    val allow = cfg.diseaseNameIn.map(_.toUpperCase)
    val alts = cfg.altDiseaseNames.map(_.toUpperCase)
    val denied =
      if (deny.isEmpty) lit(false)
      else deny.map(t => disease.contains(lit(t))).reduce(_ || _)
    val isCt =
      if (allow.isEmpty) lit(false)
      else allow.map(t => disease.contains(lit(t))).reduce(_ || _)
    val isGt = if (alts.isEmpty) lit(false) else disease.isin(alts: _*)
    when(denied, lit(null).cast("string"))
      .when(isCt, lit("ct"))
      .when(isGt, lit("gt"))
      .otherwise(lit("nct"))
  }

  /** Annotate the flat dimension: adds `ct` + `ct_rank`, drops
    * deny-listed rows (analog of annotate_ct, match.py:1224-1275).
    */
  def annotate(dim: DataFrame, cfg: CtConfig): DataFrame =
    dim.withColumn("ct", ctLabel(col("disease"), cfg))
      .filter(col("ct").isNotNull)
      .withColumn("ct_rank",
        when(col("ct") === "ct", 0)
          .when(col("ct") === "gt", 1)
          .otherwise(2))

  /** ct selection (analog of filter_ct, match.py:1278-1350):
    * "highest" keeps, per (gene, var, mp, evidence_type), only the rows
    * of the most specific non-empty ct class (ct > gt > nct); a list
    * keeps exactly the named classes; "all" is the identity.
    */
  def select(annotated: DataFrame, selectCt: Either[String, Seq[String]]): DataFrame =
    selectCt match {
      case Left("all") => annotated
      case Left("highest") =>
        val w = Window.partitionBy(
          col("gene_key"), col("var_id"), col("mp_id"), col("evidence_type"))
        annotated
          .withColumn("_min_ct", min(col("ct_rank")).over(w))
          .filter(col("ct_rank") === col("_min_ct"))
          .drop("_min_ct")
      case Left(other) =>
        throw new IllegalArgumentException(s"bad ct selection '$other'")
      case Right(list) => annotated.filter(col("ct").isin(list: _*))
    }

  /** Driver-side `annotate` + `select` over collected rows labelled by
    * `ctLabel` (the form `DimIndex.build` and `OutputAssembly
    * .buildRenders` use: one collect, no window shuffle). Null-labelled
    * (deny-listed) rows drop; `group` is the row's (gene, var, mp,
    * evidence_type). DimShuffleSpec pins both against their
    * distributed forms on `select`.
    */
  def selectLocal[T](rows: Seq[T], selectCt: Either[String, Seq[String]])(
      ct: T => String, group: T => Any): Seq[T] = {
    val kept = rows.filter(r => ct(r) != null)
    selectCt match {
      case Left("all") => kept
      case Left("highest") =>
        val best = kept.groupMapReduce(group)(r => Cts.rank(ct(r)))(math.min)
        kept.filter(r => Cts.rank(ct(r)) == best(group(r)))
      case Left(other) =>
        throw new IllegalArgumentException(s"bad ct selection '$other'")
      case Right(list) => kept.filter(r => list.contains(ct(r)))
    }
  }
}
