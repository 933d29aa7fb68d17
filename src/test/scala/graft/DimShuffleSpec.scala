package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.Synth

/** Broadcast-vs-shuffle regime parity: the over-threshold dimension
  * paths (shuffle-derived consensus `ds_tier_*`, shuffle-joined output
  * renders) must reproduce the broadcast kernel's output row-for-row.
  * The dimension here is over-threshold by FORCING a tiny
  * `maxBroadcastRows` — the split logic, not the absolute size, is
  * what's under test.
  */
class DimShuffleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // planted rows for the ct-selection and support edge cases, in a
  // gene no turn mentions:
  //  - P1: every row deny-listed (SMALL) -> no support, no render, but
  //    still an index slot;
  //  - P2/mp P2-0/PREDICTIVE mixes ct (BLADDER...), gt (CANCER) and nct
  //    (MELANOMA) rows; its ct rows carry one row per drugSupportClass
  private def planted(varId: String, order: Long, evType: String,
                      disease: String, drug: String, dir: String, sig: String) =
    graft.model.EvidenceRow(gene_key = "PLANTED", var_id = varId,
      var_name = if (varId == "P1") "AMPLIFICATION" else "V600E",
      hgvs = Seq("NP_9:p.V600E"), var_types = Seq("missense"),
      dim_order = 10000000L + order, mp_id = s"$varId-0",
      mp_name = s"PLANTED $varId", civic_score = 2.5, n_evidence_items = 1,
      evidence_type = evType, disease = disease, drug = drug,
      direction = dir, significance = sig, level = "B",
      source_type = "PUBMED", source_id = s"9$order",
      evidence_status = "ACCEPTED", source_status = "ACCEPTED",
      variant_origin = "SOMATIC", rating = Some(3.0))
  private val plantedRows = Seq(
    planted("P1", 0, "PREDICTIVE", "LUNG SMALL CELL CARCINOMA", "DRUGA",
      "SUPPORTS", "SENSITIVITYRESPONSE"),
    planted("P1", 1, "DIAGNOSTIC", "NON-SMALL CELL LUNG CANCER", "NULL",
      "SUPPORTS", "POSITIVE"),
    planted("P2", 2, "PREDICTIVE", "BLADDER CANCER", "DRUGA",
      "SUPPORTS", "SENSITIVITYRESPONSE"),            // POSITIVE
    planted("P2", 3, "PREDICTIVE", "BLADDER CANCER", "DRUGA",
      "SUPPORTS", "RESISTANCE"),                     // NEGATIVE
    planted("P2", 4, "PREDICTIVE", "BLADDER CANCER", "DRUGA",
      "NULL", "NULL"),                               // UNKNOWN_BLANK
    planted("P2", 5, "PREDICTIVE", "BLADDER CANCER", "DRUGA",
      "DOES_NOT_SUPPORT", "RESISTANCE"),             // UNKNOWN_DNS
    planted("P2", 6, "PREDICTIVE", "CANCER", "DRUGA",
      "SUPPORTS", "SENSITIVITYRESPONSE"),            // gt
    planted("P2", 7, "PREDICTIVE", "MELANOMA", "DRUGB",
      "SUPPORTS", "RESISTANCE"),                     // nct
    planted("P2", 8, "DIAGNOSTIC", "MELANOMA", "NULL",
      "SUPPORTS", "POSITIVE"))

  // a larger-than-default dimension (120 genes) + enough turns to hit
  // every tier path, including sentinels and unknown genes
  private lazy val dim = {
    import spark.implicits._
    val raw = Synth.evidenceDim(spark, 120, Pipeline.DefaultSeed).toDF()
      .unionByName(plantedRows.toDS().toDF())
    EvidenceFilter(raw, Pipeline.defaultFilter)
  }

  private val selections: Seq[Either[String, Seq[String]]] =
    Seq(Left("highest"), Right(Seq("gt", "nct")), Left("all"))
  private lazy val turns = Synth.transcripts(spark,
    Synth.TurnGenConfig(nConvs = 60, turnsPerConv = 10, nGenes = 120))

  private def annKey(a: Annotation) = (a.conv_id, a.turn_idx)

  test("shuffle consensus reproduces the broadcast kernel's ds_tier_* exactly") {
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val want = MatchKernel.annotate(turns, bcIdx)
      .collect().map(a => annKey(a) -> a).toMap

    val got = DimShuffle.annotateAuto(spark, turns, dim, Pipeline.defaultCt,
        maxBroadcastRows = 10) // force the over-threshold regime
      .collect().map(a => annKey(a) -> a).toMap

    assert(got.keySet == want.keySet)
    // the index halves (tier lists) are identical by construction;
    // the consensus halves are what the shuffle path re-derives
    for ((k, w) <- want) {
      val g = got(k)
      assert(g == w, s"annotation mismatch at $k:\n  got  $g\n  want $w")
    }
    // sanity: the fixture actually exercises non-empty support lists
    assert(want.values.exists(_.ds_tier_1.nonEmpty))
    assert(want.values.exists(_.ds_tier_2.nonEmpty))
    assert(want.values.exists(a =>
      a.ds_tier_3.nonEmpty || a.tier_3.exists(_.startsWith("NON_"))))
  }

  test("under-threshold annotateAuto stays on the broadcast path (same rows)") {
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val want = MatchKernel.annotate(turns, bcIdx)
      .collect().map(a => annKey(a) -> a).toMap
    val got = DimShuffle.annotateAuto(spark, turns, dim, Pipeline.defaultCt)
      .collect().map(a => annKey(a) -> a).toMap
    assert(got == want)
  }

  test("distributed render table equals the broadcast render map") {
    for (sel <- selections) {
      val bcRenders = OutputAssembly.buildRenders(spark, dim, Pipeline.defaultCt, sel)
      val dist = OutputAssembly.buildRendersDist(dim, Pipeline.defaultCt, sel)
        .collect().map(r => (r.gene_key, r.var_id) -> r).toMap
      assert(dist.keySet == bcRenders.value.keySet, s"render keys at $sel")
      // the all-deny-listed variant renders nothing; the mixed one does
      assert(!bcRenders.value.contains(("PLANTED", "P1")))
      assert(bcRenders.value.contains(("PLANTED", "P2")))
      for ((k, vr) <- bcRenders.value) {
        val d = dist(k)
        assert(d.scores == vr.scores, s"scores at $k")
        assert(d.types_string == vr.typesString, s"types at $k")
        assert(d.ev_predictive == vr.evStrings.getOrElse("PREDICTIVE", Nil), s"pred at $k")
        assert(d.ev_diagnostic == vr.evStrings.getOrElse("DIAGNOSTIC", Nil), s"diag at $k")
        assert(d.ev_prognostic == vr.evStrings.getOrElse("PROGNOSTIC", Nil), s"prog at $k")
        assert(d.ev_predisposing == vr.evStrings.getOrElse("PREDISPOSING", Nil), s"predis at $k")
      }
    }
  }

  test("broadcast index support vectors equal the collected supportTable") {
    def support(sel: Either[String, Seq[String]]) = {
      val idx = DimIndex.build(spark, dim, Pipeline.defaultCt, sel)
      val got = for ((gene, g) <- idx.genes.toSeq; p <- g.varIds.indices;
                     (i, j) <- g.varSupIdx(p).zipWithIndex)
        yield (gene, g.varIds(p), g.drugCtPrefix(i)) ->
          g.varSupCnt(p).slice(4 * j, 4 * j + 4).toSeq
      val want = DimShuffle.supportTable(dim, Pipeline.defaultCt, sel)
        .collect().toSeq.map(r => (r.getString(0), r.getString(1),
          s"${r.getString(2)}:${r.getString(3).toUpperCase}:") ->
          Seq(r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      assert(got.length == want.length, s"support entries at $sel")
      assert(got.toMap == want.toMap, s"support vectors at $sel")
      // the all-deny-listed variant keeps its slot, with no support
      val p1 = idx.genes("PLANTED").varIds.indexOf("P1")
      assert(p1 == 0 && idx.genes("PLANTED").varSupIdx(p1).isEmpty)
      got.toMap.filter(_._1._1 == "PLANTED").map { case (k, v) => k._3 -> v }
    }
    // fixture sanity: every drugSupportClass is counted, and each
    // selection keeps the ct classes it names
    assert(support(Left("highest")) == Map("DRUGA:CT:" -> Seq(1L, 1L, 1L, 1L)))
    assert(support(Right(Seq("gt", "nct"))) == Map(
      "DRUGA:GT:" -> Seq(1L, 0L, 0L, 0L), "DRUGB:NCT:" -> Seq(0L, 1L, 0L, 0L)))
    assert(support(Left("all")).keySet ==
      Set("DRUGA:CT:", "DRUGA:GT:", "DRUGB:NCT:"))
  }

  test("regime 2 index (no consensus) keeps the broadcast variant positions") {
    val full = DimIndex.build(spark, dim, Pipeline.defaultCt)
    val noCons = DimIndex.build(spark, dim, Pipeline.defaultCt,
      withConsensus = false)
    assert(noCons.genes.keySet == full.genes.keySet)
    for ((gene, g) <- full.genes) {
      val h = noCons.genes(gene)
      assert(h.varIds.toSeq == g.varIds.toSeq, s"positions of $gene")
      assert(h.varNames.toSeq == g.varNames.toSeq, s"names of $gene")
      assert(h.snvIndex.view.mapValues(_.toSeq).toMap ==
        g.snvIndex.view.mapValues(_.toSeq).toMap, s"snv index of $gene")
      assert(h.varSupIdx.forall(_.isEmpty))
    }
    assert(full.genes("PLANTED").varIds.toSeq == Seq("P1", "P2"))
  }

  test("distributed pred-entries table equals the driver buildPredEntries") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{struct, col}
    val collected = CtClassifier.select(
        CtClassifier.annotate(dim, Pipeline.defaultCt), Left("highest"))
      .select(struct(dim.columns.toIndexedSeq.map(col): _*).as("_1"),
        col("ct").as("_2"))
      .as[(graft.model.EvidenceRow, String)].collect().toSeq
    val want = Reports.buildPredEntries(collected)
    val got = Reports.predEntriesTable(dim, Pipeline.defaultCt).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        Reports.PredEntry(r.getString(2), r.getString(3), r.getString(4),
          r.getString(5), r.getInt(6))))
      .groupBy(_._1)
      .map { case (k, es) => k -> es.map(_._2).sortBy(_.entryIdx).toList }
    assert(got.keySet == want.keySet)
    for ((k, w) <- want)
      assert(got(k) == w, s"pred entries mismatch at $k")
    // fixture sanity: multi-entry variants exist (entry ordering is
    // actually exercised, not vacuously equal)
    assert(want.values.exists(_.length > 2))
  }

  test("shuffle drug-targets report equals the broadcast report row-for-row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{struct, col}
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val ann = MatchKernel.annotate(turns, bcIdx)
    val collected = CtClassifier.select(
        CtClassifier.annotate(dim, Pipeline.defaultCt), Left("highest"))
      .select(struct(dim.columns.toIndexedSeq.map(col): _*).as("_1"),
        col("ct").as("_2"))
      .as[(graft.model.EvidenceRow, String)].collect().toSeq
    val want = Reports.drugTargets(ann,
        spark.sparkContext.broadcast(Reports.buildPredEntries(collected)),
        Reports.buildNameMap(spark, dim))
      .collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty)
    val got = Reports.drugTargetsDist(ann,
        Reports.predEntriesTable(dim, Pipeline.defaultCt),
        Reports.nameTable(dim))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
    // the auto selector picks the shuffle path at a forced threshold
    val auto = Reports.drugTargetsAuto(spark, ann, dim, Pipeline.defaultCt,
        maxBroadcastRows = 10)
      .collect().map(_.toString).sorted.toSeq
    assert(auto == want)
    // and the under-threshold branch (broadcast maps collected FROM the
    // distributed tables) matches too
    val under = Reports.drugTargetsAuto(spark, ann, dim, Pipeline.defaultCt)
      .collect().map(_.toString).sorted.toSeq
    assert(under == want)
  }

  test("pred-entries parity holds on null evidence fields (render as 'null')") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{struct, col}
    // CSV-style dimension rows where optional fields came in as null:
    // the driver regime interpolates "null"; the distributed concat
    // must coalesce, not null-propagate (which would DROP the leaf)
    def row(varId: String, sig: String, level: String, order: Long) =
      graft.model.EvidenceRow(gene_key = "G1", var_id = varId,
        var_name = "V600E", hgvs = Seq("NP_1:p.V600E"),
        var_types = Seq("missense"), dim_order = order, mp_id = s"$varId-0",
        mp_name = "G1 V600E", civic_score = 1.0, n_evidence_items = 1,
        evidence_type = "PREDICTIVE", disease = "bladder cancer",
        drug = "DRUGA", direction = "SUPPORTS", significance = sig,
        level = level, source_type = "PUBMED", source_id = "1",
        evidence_status = "ACCEPTED", source_status = "ACCEPTED",
        variant_origin = "SOMATIC", rating = Some(4.0))
    val d = Seq(row("1", null, "A", 0L), row("1", "SENSITIVITYRESPONSE", null, 1L))
      .toDS().toDF()
    val collected = CtClassifier.select(
        CtClassifier.annotate(d, Pipeline.defaultCt), Left("highest"))
      .select(struct(d.columns.toIndexedSeq.map(col): _*).as("_1"),
        col("ct").as("_2"))
      .as[(graft.model.EvidenceRow, String)].collect().toSeq
    val want = Reports.buildPredEntries(collected)
    val got = Reports.predEntriesTable(d, Pipeline.defaultCt).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        Reports.PredEntry(r.getString(2), r.getString(3), r.getString(4),
          r.getString(5), r.getInt(6))))
      .groupBy(_._1)
      .map { case (k, es) => k -> es.map(_._2).sortBy(_.entryIdx).toList }
    assert(got == want)
    assert(want.values.flatten.exists(_.evidence.contains("null")),
      "fixture failed to exercise a null field")
  }

  test("shuffle reprocess-across equals the broadcast coarse consensus") {
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val ann = MatchKernel.annotate(turns, bcIdx)
    val want = Reports.reprocessAcross(ann, bcIdx)
    assert(want.nonEmpty)
    val got = Reports.reprocessAcrossDist(ann,
      DimShuffle.supportTable(dim, Pipeline.defaultCt))
    assert(got == want)
  }

  test("shuffle writeMatchTable equals the broadcast table row-for-row") {
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val ann = MatchKernel.annotate(turns, bcIdx)
    val want = OutputAssembly.writeMatchTable(ann,
        OutputAssembly.buildRenders(spark, dim, Pipeline.defaultCt))
      .collect().map(_.toString).sorted.toSeq
    val got = OutputAssembly.writeMatchTableShuffle(ann,
        OutputAssembly.buildRendersDist(dim, Pipeline.defaultCt))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
    // and the auto selector picks the shuffle path over-threshold
    val auto = OutputAssembly.writeMatchTableAuto(ann, dim,
        Pipeline.defaultCt, maxBroadcastRows = 10)
      .collect().map(_.toString).sorted.toSeq
    assert(auto == want)
  }
}
