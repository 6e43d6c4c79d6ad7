package graft

import java.nio.file.{Files, Paths}

import graft.core.{TaskKind, WranglerConfig}
import graft.sample.Samplers
import graft.tasks.WranglerMain
import graft.tasks.WranglerMain.SplitInput
import graft.transform.TransformProgram

class WranglerMainSpec extends SparkSpec {
  import spark.implicits._

  /** A transformation task over one frame, split positionally (the first
    * k rows train, the rest test). */
  private def positionalTask(name: String, rows: Seq[(Long, String, String)]) = {
    val (train, test) = Samplers.positionalSplit(
      rows.toDF("ord", "text", "label_str"), "ord", WranglerConfig.default.k)
    SplitInput(name, TaskKind.DataTransformation, train, test, None)
  }

  private def runTask(i: SplitInput) =
    WranglerMain.runTaskSplit(i.name, i.kind, i.train, i.test, i.instruction)

  private def upperTask =
    positionalTask("upper", (1 to 20).map(i => (i.toLong, s"item $i", s"ITEM $i")))

  private def stripTask =
    positionalTask("strip", (1 to 20).map(i => (i.toLong, s"val: $i", s"$i")))

  test("transport-backed synthesizer through the full task pipeline " +
      "matches the rule path; per-task template selected") {
    val train = (1 to 30).map(i => (s"word$i", s"WORD$i"))
      .toDF("text", "label_str")
    val test_ = (31 to 40).map(i => (s"word$i", s"WORD$i"))
      .toDF("text", "label_str")
    val synth = new graft.transform.TransportSynthesizer(
      graft.transform.LocalTransport.transport, TaskKind.ErrorDetection)
    val viaTransport = WranglerMain.runTaskSplit(
      "t", TaskKind.ErrorDetection, train, test_, None,
      graft.core.WranglerConfig.default, synth).get
    val viaRule = WranglerMain.runTaskSplit(
      "t", TaskKind.ErrorDetection, train, test_, None).get
    assert(viaTransport.program === viaRule.program)
    assert(viaTransport.metrics("acc") === viaRule.metrics("acc"))
    // the task preamble the reference routes per task is in the transcript
    assert(synth.calls.head.exists(_.content.contains("spelling-error")))
  }

  test("runTaskSplit synthesizes, applies, and scores a positional split") {
    val r = runTask(upperTask).get
    assert(r.program === TransformProgram.UpperCase)
    assert(r.metrics("acc") === 1.0)
    assert(r.applied.count() === 17)   // 20 - k(3)
  }

  test("empty test split is skipped (P11 guard)") {
    val tiny = positionalTask("tiny", Seq((1L, "a", "A")))
    assert(runTask(tiny).isEmpty)
  }

  test("runTaskSplit: separate train/test frames (error-detection dir shape)") {
    // train teaches the transform; test is a disjoint frame — no positional
    // split involved, mirroring the train/test split-directory layout
    val train = (1 to 30).map(i => (s"word$i", s"WORD$i"))
      .toDF("text", "label_str")
    val test_ = (31 to 40).map(i => (s"word$i", s"WORD$i"))
      .toDF("text", "label_str")
    val r = WranglerMain.runTaskSplit(
      "dirtask", TaskKind.ErrorDetection, train, test_, None).get
    assert(r.program === TransformProgram.UpperCase)
    assert(r.metrics("acc") === 1.0)
    assert(r.applied.count() === 10)   // whole test frame, not n - k
  }

  test("selectPrograms: zip for transformation, best-acc for EM") {
    val trials = Seq(
      (TransformProgram.LowerCase: TransformProgram, 0.4),
      (TransformProgram.UpperCase: TransformProgram, 0.9))
    assert(WranglerMain.selectPrograms(
      TaskKind.DataTransformation, trials, 1) === Seq(TransformProgram.LowerCase))
    assert(WranglerMain.selectPrograms(
      TaskKind.EntityMatching, trials, 2) ===
      Seq(TransformProgram.UpperCase, TransformProgram.UpperCase))
  }

  test("runAllSplits writes metrics.json + learned_funcs.json with global stats") {
    val out = Files.createTempDirectory("graft_wrangler").toString
    val (results, metrics) = WranglerMain.runAllSplits(
      spark, Seq(upperTask, stripTask), out)
    assert(results.length === 2)
    assert(metrics("acc_mean") === 1.0 && metrics("acc_std") === 0.0)
    assert(metrics("global_total") === 34.0)   // 17 + 17
    val mj = Files.readString(Paths.get(s"$out/metrics.json"))
    assert(mj.contains("\"upper_acc\"") && mj.contains("\"global_crc\""))
    val fj = Files.readString(Paths.get(s"$out/learned_funcs.json"))
    assert(fj.contains("upper"))
  }
}
