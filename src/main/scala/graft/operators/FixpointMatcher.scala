package graft.operators

import graft.functions.geo.densify
import graft.model.{ShstReference, TargetMapFeature}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Fixpoint match driver (SURVEY.md G9/G11): the reference retries unmatched
 * features through up to 4 iterations of progressively different matcher
 * configurations — motorway/surface passes, a densified-geometry pass, an
 * OSRM reroute pass (SharedStreetsMatcher.js:282-357) — looping until no
 * progress (the effective maxIterations=∞ quirk, loadMatchesForTargetMap.js:3-13).
 *
 * Spark re-expression: a driver-side loop over Datasets. Each pass matches
 * only the still-unmatched features (left-anti join on matched ids — the
 * reference's skip-set, ShstMatchingWorkDatabaseService.js:120-144), with a
 * per-pass candidate gate and optional geometry densification (the
 * attempt-2 analog; OSRM rerouting has no counterpart here — our matcher IS
 * the router replacement). The passes run in [[Fixpoint.iterate]] over the
 * unmatched set, so lineage doesn't grow across passes; "no progress"
 * means a pass left the unmatched set unchanged.
 */
object FixpointMatcher {

  /** One matcher configuration (a "pass" in the reference's retry loop). */
  final case class MatchPass(hausdorffKm: Double, densifyGeometry: Boolean)

  /** Default schedule ≈ the reference's strict-then-lenient progression. */
  val DefaultPasses: Seq[MatchPass] = Seq(
    MatchPass(0.015, densifyGeometry = false),
    MatchPass(ConflationPipeline.MatchHausdorffKm, densifyGeometry = false),
    MatchPass(ConflationPipeline.MatchHausdorffKm, densifyGeometry = true),
    MatchPass(0.04, densifyGeometry = true))

  /**
   * Run the fixpoint loop; returns all matches with `matchIterationId`
   * recording the pass that produced each row (the reference stamps
   * matchBatchId the same way).
   */
  def matchWithRetries(features: Dataset[TargetMapFeature], refs: Dataset[ShstReference],
      passes: Seq[MatchPass] = DefaultPasses): DataFrame = {
    val found = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // generation k = the features still unmatched after k passes; pass k
    // runs on generation k and its matches are kept before k is released
    val unmatched = Fixpoint.iterate("matchWithRetries", features.toDF(),
        passes.length) { g =>
      val pass = passes(g.round)
      val attempt =
        if (pass.densifyGeometry) g.df.withColumn("geometry", densify(col("geometry")))
        else g.df
      val typed = attempt.as[TargetMapFeature](features.encoder)
      val cand = ConflationPipeline.matchCandidates(typed, refs)
      val scored = ConflationPipeline.scoredCandidates(cand, pass.hausdorffKm)
      val m = Fixpoint.materialize(MatchPostProcessor(scored, iterationId = g.round).toDF())
      found += m
      val matchedIds = m.select(col("targetMap"), col("targetMapId")).distinct()
      g.df.join(matchedIds,
        g.df("targetMap") === matchedIds("targetMap") &&
          g.df("targetMapId") === matchedIds("targetMapId"),
        "left_anti")
    } { (prev, g) =>
      // the schedule is exhausted, nothing is left to match, or a pass
      // matched nothing (generations only shrink: equal count = equal set)
      g.round == passes.length || g.rows == 0L || prev.exists(_.rows == g.rows)
    }
    Fixpoint.release(unmatched)
    found.reduceOption(_.unionByName(_)).getOrElse(features.sparkSession.emptyDataFrame)
  }
}
