package graft.transform

import graft.core.WranglerConfig
import graft.metrics.TolerantEq

/** Driver-side demo accuracy for validating candidate programs on k≈3
  * demo rows without a Spark job (reference: `function_generator.py:138-160`
  * + `utils/utils.py:83-128`). The comparison is [[TolerantEq.eval]], the
  * predicate the Spark metrics run, with the config's tolerance and
  * truncating-zip setting.
  */
object LocalEval {

  /** Accuracy of a program over (input, gold) pairs; execution errors count
    * as the "Not excutable" sentinel (F2).
    */
  def accuracy(prog: TransformProgram, demos: Seq[(String, String)],
      cfg: WranglerConfig = WranglerConfig.default): Double = {
    if (demos.isEmpty) return 0.0
    val ok = demos.count { case (in, gold) =>
      val pred = try prog.eval(in) catch { case _: Throwable => "Not excutable" }
      TolerantEq.eval(pred, gold, cfg.tolerance, cfg.truncatingZip)
    }
    ok.toDouble / demos.size
  }
}

/** V2 (SURVEY §2.6) re-expressed: the reference calls an LLM to emit Python
  * source; the rebuild's `FunctionSynthesizer` is a trait so an LLM-backed
  * implementation can plug in, with a DETERMINISTIC rule-based default that
  * searches the closed [[TransformProgram]] space (zero-egress environment;
  * SURVEY §7.4.5). `synthesize` returns candidates best-first; the repair
  * loop (V4) walks down the list.
  */
trait FunctionSynthesizer {
  def synthesize(
      instruction: Option[String],
      demos: Seq[(String, String)]): Seq[TransformProgram]
}

object RuleSynthesizer extends FunctionSynthesizer {
  import TransformProgram._

  private val DateFormats = Seq(
    "yyyy-MM-dd", "dd/MM/yyyy", "MM/dd/yyyy", "yyyy/MM/dd", "dd.MM.yyyy",
    "MMM d yyyy", "MMMM d yyyy", "d MMM yyyy", "yyyyMMdd",
    "yyyy-MM-dd HH:mm:ss", "EEE MMM d yyyy")

  private val Seps = Seq(" ", ",", ", ", "\t", "/", "-", "_", ":", ";")

  /** Enumerate candidate programs consistent with ALL demo pairs, ordered
    * simplest-first (the validation loop re-checks with tolerant equality,
    * so candidates here only need to be plausible).
    */
  def synthesize(
      instruction: Option[String],
      demos: Seq[(String, String)]): Seq[TransformProgram] = {
    if (demos.isEmpty) return Seq(NullProgram)
    // Candidate ordering uses EXACT output equality — the tolerant metric is
    // case-insensitive, which would rank Identity above LowerCase for a
    // case-folding task. (Validation still applies the faithful tolerant
    // metric afterwards, as the reference does.)
    val fits = (p: TransformProgram) => demos.forall { case (in, out) =>
      (try p.eval(in) catch { case _: Throwable => null }) == out
    }

    val caseCands = Seq(Identity, TrimWs, LowerCase, UpperCase, TitleCase,
      Chain(Seq(TrimWs, LowerCase)), Chain(Seq(TrimWs, UpperCase)))

    val affixCands: Seq[TransformProgram] = {
      val (ins, outs) = demos.unzip
      val addPrefix = commonAffix(demos.map { case (i, o) =>
        if (o.endsWith(i)) o.dropRight(i.length) else null })
      val addSuffix = commonAffix(demos.map { case (i, o) =>
        if (o.startsWith(i)) o.drop(i.length) else null })
      val stripPrefix = commonAffix(demos.map { case (i, o) =>
        if (i.endsWith(o)) i.dropRight(o.length) else null })
      val stripSuffix = commonAffix(demos.map { case (i, o) =>
        if (i.startsWith(o)) i.drop(o.length) else null })
      Seq(
        addPrefix.map(p => Surround(p, "")),
        addSuffix.map(s => Surround("", s)),
        stripPrefix.map(p => StripAffix(p, "")),
        stripSuffix.map(s => StripAffix("", s))
      ).flatten
    }

    val splitCands: Seq[TransformProgram] = for {
      sep <- Seps
      idx <- Seq(0, 1, 2, -1, -2)
      p = SplitIndex(sep, idx)
      if fits(p)
    } yield p

    val numExtract: Seq[TransformProgram] = Seq(
      RegexExtract("([-+]?[0-9]*\\.?[0-9]+)", 1),
      RegexExtract("([0-9]+)", 1),
      RegexExtract("([A-Za-z]+)", 1)
    ).filter(fits)

    val dateCands: Seq[TransformProgram] = for {
      inF <- DateFormats
      outF <- DateFormats
      if inF != outF
      p = DateReformat(inF, outF)
      if fits(p)
    } yield p

    val affineCands: Seq[TransformProgram] = {
      val pairs = demos.map { case (i, o) =>
        (TolerantEq.extract(i).headOption, TolerantEq.extract(o).headOption)
      }
      if (pairs.forall(p => p._1.nonEmpty && p._2.nonEmpty)) {
        val xs = pairs.map(_._1.get); val ys = pairs.map(_._2.get)
        val decimals = demos.map(_._2).map(o =>
          o.dropWhile(_ != '.') match { case "" => 0; case d => d.length - 1 })
          .max.min(6)
        val cands = scala.collection.mutable.ArrayBuffer[TransformProgram]()
        // pure scale (unit conversion)
        if (xs.forall(_ != 0.0)) {
          val ratios = xs.zip(ys).map { case (x, y) => y / x }
          if (ratios.nonEmpty && spread(ratios) < 1e-6) {
            cands += AffineNumber(ratios.head, 0.0, decimals)
            cands += AffineNumber(ratios.head, 0.0, decimals, trimZeros = true)
          }
        }
        // scale+offset from two distinct points (°C→°F etc.)
        val distinct = xs.zip(ys).distinctBy(_._1)
        if (distinct.size >= 2) {
          val (x1, y1) = distinct(0); val (x2, y2) = distinct(1)
          if (x2 != x1) {
            val a = (y2 - y1) / (x2 - x1); val b = y1 - a * x1
            cands += AffineNumber(a, b, decimals)
            cands += AffineNumber(a, b, decimals, trimZeros = true)
          }
        }
        cands.toSeq.filter(fits)
      } else Seq.empty
    }

    val romanCands: Seq[TransformProgram] =
      if (demos.forall { case (i, _) =>
        i.nonEmpty && i.toUpperCase.forall("MDCLXVI".contains(_)) })
        Seq(RomanToInt).filter(fits)
      else Seq.empty

    // geo/calendar family (F6 envelope edge): degree↔DMS when the ° marker
    // appears on the relevant side; fixed-zone shift when both sides parse
    // as datetimes — the offset is DERIVED from the first demo per format
    // pair, then fits-checked against all demos (bounded: |fmts|² probes,
    // no offset grid).
    val geoCands: Seq[TransformProgram] = {
      val dms =
        if (demos.forall(_._2.contains("°")))
          (0 to 2).map(DegToDms(_))
        else if (demos.forall(_._1.contains("°")))
          Seq(2, 4, 6).map(DmsToDeg(_))
        else Seq.empty
      val hijri = DateFormats.map(GregorianToHijri(_))
      // geodesic distance: the input side must look like a coordinate-pair
      // arrow expression before the (bounded) decimals probe runs
      val hav =
        if (demos.forall { case (i, _) =>
            i.contains("->") && i.contains(",") })
          (2 to 4).map(HaversineKm(_))
        else Seq.empty
      (dms ++ hijri ++ hav).filter(fits)
    }
    val tzCands: Seq[TransformProgram] = {
      val fmts = Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm",
        "dd/MM/yyyy HH:mm", "HH:mm")
      import java.time.format.DateTimeFormatter
      import java.time.LocalDateTime
      val (i0, o0) = demos.head
      (for {
        inF <- fmts; outF <- fmts
        p <- try {
          val fi = DateTimeFormatter.ofPattern(inF, java.util.Locale.US)
          val fo = DateTimeFormatter.ofPattern(outF, java.util.Locale.US)
          val a = LocalDateTime.parse(i0, fi)
          val b = LocalDateTime.parse(o0, fo)
          val mins = java.time.Duration.between(a, b).toMinutes.toInt
          if (mins != 0) Some(FixedZoneShift(inF, outF, mins)) else None
        } catch { case _: Throwable => None }
      } yield p).filter(fits)
    }

    // Last resort: the demo dictionary itself (always fits the demos; the
    // supervision gate V3(c) is what catches its non-generalization).
    val dictCand = DictLookup(demos.toMap, None)

    (caseCands.filter(fits) ++ affixCands.filter(fits) ++ dateCands ++
      splitCands ++ romanCands ++ geoCands ++ tzCands ++ affineCands ++
      numExtract ++ Seq(dictCand))
      .distinct
  }

  private def commonAffix(parts: Seq[String]): Option[String] =
    if (parts.contains(null) || parts.isEmpty) None
    else if (parts.distinct.size == 1 && parts.head.nonEmpty) Some(parts.head)
    else None

  private def spread(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.max - xs.min
}

/** V3-V5 (SURVEY §2.6): validation gates, generate→validate→repair loop,
  * trial loop. Pure driver-side control flow around the synthesizer, exactly
  * mirroring `function_generator.py:171-233` + `run_wrangler.py:16-56`.
  */
object Validation {

  sealed trait Verdict
  case object Validated extends Verdict
  case object NotExecutable extends Verdict
  case object NotFit extends Verdict
  case object NotGeneralizable extends Verdict

  /** The three gates of `validate_function` (`function_generator.py:171-192`):
    * (a) executable on demo row 0; (b) demo accuracy ≥ threshold;
    * (c) supervision accuracy ≥ thresholdSup.
    *
    * Quirk kept (SURVEY §2.6 V3): the reference's default thresholdSup=10.0
    * compares against a 0-1-scale accuracy, so gate (c) always fails when a
    * supervision set is present — reachable only with d>0. Pass a sane
    * thresholdSup (≤1.0) in WranglerConfig for the corrected mode.
    */
  def validate(
      prog: TransformProgram,
      demos: Seq[(String, String)],
      supervision: Seq[(String, String)],
      cfg: WranglerConfig): (Verdict, Double) = {
    val executable =
      try { prog.eval(demos.head._1); true } catch { case _: Throwable => false }
    if (!executable) return (NotExecutable, 0.0)
    val acc = LocalEval.accuracy(prog, demos, cfg)
    if (acc < cfg.threshold) return (NotFit, acc)
    if (supervision.nonEmpty) {
      val accSup = LocalEval.accuracy(prog, supervision, cfg)
      if (accSup < cfg.thresholdSup) return (NotGeneralizable, acc)
    }
    (Validated, acc)
  }

  /** V4 — generate→validate→repair (`generate_function_pipeline`,
    * `function_generator.py:195-233`): walk candidates up to `depth`; keep a
    * stack of runnable (program, acc); return on Validated, else best-of-
    * stack, else None (the reference's "No function can be generated"
    * sentinel with -inf accuracy).
    */
  def generatePipeline(
      synth: FunctionSynthesizer,
      instruction: Option[String],
      demos: Seq[(String, String)],
      supervision: Seq[(String, String)],
      cfg: WranglerConfig): Option[(TransformProgram, Double)] = {
    val candidates = synth.synthesize(instruction, demos).take(cfg.depth)
    val stack = scala.collection.mutable.ArrayBuffer[(TransformProgram, Double)]()
    for (prog <- candidates) {
      validate(prog, demos, supervision, cfg) match {
        case (Validated, acc) => return Some((prog, acc))
        case (NotExecutable, _) => // unrunnable: not stacked (ref :216 gates on runnable)
        case (_, acc) => stack += ((prog, acc))
      }
    }
    if (stack.nonEmpty) Some(stack.maxBy(_._2)) else None
  }

  /** V5 — trial loop with demo resampling (`function_generation`,
    * `run_wrangler.py:16-56`): numTrials outer trials; on sentinel, retry ≤
    * numIter with a reseeded resample; final fallback is the null program
    * (the reference's `return None` dummy, `run_wrangler.py:42`).
    */
  def trialLoop(
      synth: FunctionSynthesizer,
      instruction: Option[String],
      train: Seq[(String, String)],
      supervision: Seq[(String, String)],
      cfg: WranglerConfig): Seq[(TransformProgram, Double)] = {
    (0 until cfg.numTrials).map { trial =>
      var seed = cfg.seed + trial
      var result: Option[(TransformProgram, Double)] = None
      var iter = 0
      while (result.isEmpty && iter <= cfg.numIter) {
        val demos = sampleDemos(train, cfg.k, seed)
        result = generatePipeline(synth, instruction, demos, supervision, cfg)
        seed += 1234   // reference's reseed-on-failure (run_wrangler.py:44-45)
        iter += 1
      }
      result.getOrElse((TransformProgram.NullProgram, Double.NegativeInfinity))
    }
  }

  /** Seeded exact-k demo draw (driver-side analog of A1). */
  def sampleDemos(
      train: Seq[(String, String)], k: Int, seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(train).take(k)
  }
}
