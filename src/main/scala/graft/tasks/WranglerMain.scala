package graft.tasks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{TaskKind, WranglerConfig}
import graft.io.Sinks
import graft.metrics.Metrics
import graft.transform._

/** Full-run orchestration mirroring `run_wrangler.py main()` (SURVEY §3.1):
  * per task — synthesize over demo samples (V5 trial loop), select per-batch
  * functions (V6), apply distributed (F2), aggregate task metrics (G4), then
  * global all-rows metrics + mean/std over tasks (G5) and the JSON sinks
  * (S6/S7).
  *
  * The reference iterates rows in a driver loop; here each task's apply is
  * one codegen'd column over its test split, and every metric is a one-pass
  * conditional aggregation.
  */
object WranglerMain {

  /** Pre-split task: the shape the benchmark readers produce when train
    * and test arrive as separate files/directories (EM, imputation,
    * error-detection) or after the reader's own positional split
    * (transformation pair files).
    */
  final case class SplitInput(
      name: String,
      kind: TaskKind,
      train: DataFrame,         // canonical (text, label_str)
      test: DataFrame,
      instruction: Option[String])

  final case class TaskResult(
      name: String,
      program: TransformProgram,
      applied: DataFrame,       // with pred
      metrics: Map[String, Double])

  /** V6 — per-task function selection (`run_wrangler.py:194-227`):
    * transformation & error detection zip batches to per-trial functions;
    * EM & imputation use the single best-accuracy function for all batches.
    * The reference's batch list is `[whole test set]`
    * (`run_wrangler.py:182-184`), so zip selects trial 0's function —
    * behavior preserved.
    */
  def selectPrograms(
      kind: TaskKind,
      trials: Seq[(TransformProgram, Double)],
      nBatches: Int): Seq[TransformProgram] = kind match {
    case TaskKind.DataTransformation | TaskKind.ErrorDetection =>
      trials.take(nBatches).map(_._1)                  // zip semantics
    case _ =>
      Seq.fill(nBatches)(trials.maxBy(_._2)._1)        // best-of-trials
  }

  def metricsToMap(df: DataFrame): Map[String, Double] = {
    val row = df.collect()(0)
    row.schema.fieldNames.map { f =>
      // null (e.g. acc on an empty split) → 0.0 rather than an NPE
      f -> Option(row.getAs[Any](f)).map(_.toString.toDouble).getOrElse(0.0)
    }.toMap
  }

  /** One task end to end over its (train, test) frames. Empty test split
    * → skipped (P11 guard, `run_wrangler.py:172-174`). A single-frame task
    * is split first with `Samplers.positionalSplit`; the error-detection
    * family arrives as SEPARATE train/test split directories
    * (`data_utils.py:288-305`, paired with `Readers.errorDetectionDir` +
    * `Samplers.coSort3` for the triple alignment).
    */
  def runTaskSplit(
      name: String,
      kind: TaskKind,
      trainDf: DataFrame,
      testDf: DataFrame,
      instruction: Option[String],
      cfg: WranglerConfig = WranglerConfig.default,
      synth: FunctionSynthesizer = RuleSynthesizer): Option[TaskResult] = {
    if (testDf.isEmpty) return None
    // The demo pool collected to the driver is BOUNDED: trials only ever
    // draw k-row demo samples, so a seeded exact-n pool (TakeOrdered, no
    // shuffle) stands in for the reference's whole-train sampling frame —
    // collecting a full 100 TB-scale train split would be a driver OOM.
    // When the config is in the CORRECTED supervision mode
    // (thresholdSup ≤ 1.0 — the faithful default 10.0 makes gate V3(c)
    // unconditionally fail, SURVEY §2.6), the first d pool rows become the
    // supervision hold-out so the generalization gate actually runs.
    val supervised = cfg.d > 0 && cfg.thresholdSup <= 1.0
    val supN = if (supervised) cfg.d else 0
    val poolCap = math.max(cfg.d, cfg.k * 100) + supN
    val pool = graft.sample.Samplers
      .randomExactN(trainDf.select("text", "label_str"), poolCap, cfg.seed)
      .collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val (supervision, train) = pool.splitAt(supN)
    val trials = Validation.trialLoop(
      synth, instruction, train, supervision, cfg)
    val prog = selectPrograms(kind, trials, 1).head
    val applied = Wrangler.applyProgram(testDf, prog)
    val m = metricsToMap(Metrics.confusionMetrics(
      applied, "pred", "label_str", cfg.tolerance, cfg.truncatingZip))
    Some(TaskResult(name, prog, applied, m))
  }

  /** All tasks + global metrics + sinks — the CLI entry path, where every
    * benchmark layout has already produced (train, test) frames. Returns
    * per-task results and the global metric map that lands in metrics.json.
    */
  def runAllSplits(
      spark: SparkSession,
      inputs: Seq[SplitInput],
      outDir: String,
      cfg: WranglerConfig = WranglerConfig.default,
      synthFor: TaskKind => FunctionSynthesizer = _ => RuleSynthesizer)
      : (Seq[TaskResult], Map[String, Double]) = {
    val results = inputs.flatMap(i =>
      runTaskSplit(i.name, i.kind, i.train, i.test, i.instruction, cfg,
        synthFor(i.kind)))
    // all-rows global metrics (run_wrangler.py:257-261): union of applied
    val global = results.map(_.applied.select("pred", "label_str"))
      .reduceOption(_ unionByName _)
      .map(u => metricsToMap(Metrics.confusionMetrics(
        u, "pred", "label_str", cfg.tolerance, cfg.truncatingZip)))
      .getOrElse(Map.empty)
    // per-task mean/std of accuracy (G5; np.std is population std)
    val accs = results.map(_.metrics("acc"))
    val stats =
      if (accs.isEmpty) Map.empty[String, Double]
      else {
        val mean = accs.sum / accs.size
        val variance = accs.map(a => (a - mean) * (a - mean)).sum / accs.size
        Map("acc_mean" -> mean, "acc_std" -> math.sqrt(variance))
      }
    val all = global.map { case (k, v) => s"global_$k" -> v } ++ stats ++
      results.flatMap(r => r.metrics.map { case (k, v) =>
        s"${r.name}_$k" -> v })
    Sinks.writeMetricsJson(all, s"$outDir/metrics.json")
    Sinks.writeLearnedProgramsJson(
      results.map(_.program.describe), s"$outDir/learned_funcs.json")
    (results, all)
  }
}
