package graft.pipeline

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame

/** Driver-side stage runner (SURVEY.md §3.1): the reference's pipeline
  * is an ordered list of steps discovered from component directories,
  * natural-sorted, pruned by `--exclude`, each run as a child process
  * with per-step timing and a failure summary that does not abort the
  * run (core/pipeline.py:67-147; cli/command.py:15-94;
  * adapters/script_runner.py:33-84).
  *
  * Here a stage is a named pure `DataFrame => DataFrame`. As in the
  * reference, where each step runs once and replaces the store before
  * the next step reads it (adapters/printers_store.py:38-42), each
  * stage's output is materialized once, as an eager local checkpoint,
  * and that frame is what the next stage, the `checkpoint` callback
  * and `RunSummary.out` read. Nothing downstream re-runs an earlier
  * stage: a device a stage polls is polled once per run, and a write
  * over the run's own input file cannot be read back into it. Failures
  * degrade: a stage that throws while building its plan or while
  * executing contributes its error to the summary and the previous
  * frame flows on (the reference collects non-zero exit codes and
  * continues, cli/command.py:69-88).
  */
final case class Stage(
    step: String,    // component group, e.g. "tonerFinder"
    substep: String, // script name within the group
    f: DataFrame => DataFrame)

final case class StageResult(
    step: String, substep: String, ok: Boolean,
    elapsedS: Double, error: Option[String])

/** `warnings`: the plan's and the exclude parser's notices, never fatal. */
final case class RunSummary(results: Seq[StageResult], out: DataFrame,
    warnings: Seq[String] = Nil) {
  /** A11: all-ok flag + failure list (adapters/script_runner.py:82-84). */
  def allOk: Boolean = results.forall(_.ok)
  def failures: Seq[StageResult] = results.filterNot(_.ok)
}

object Pipeline {

  /** Natural sort key: digit runs compare numerically (step2 < step10)
    * over the LOWERCASED name — W2, core/pipeline.py:24-35. */
  def naturalKey(s: String): Seq[(Int, String, Long)] =
    "\\d+|\\D+".r.findAllIn(s.toLowerCase).map { tok =>
      if (tok.forall(_.isDigit)) (0, "", tok.toLong) else (1, tok, 0L)
    }.toSeq

  implicit private val keyOrdering: Ordering[Seq[(Int, String, Long)]] =
    Ordering.Implicits.seqOrdering

  /** The reference's `--exclude` grammar, faithfully (core/pipeline.py:
    * 38-64 + cli/command.py:20-24): the repeatable flag's values are
    * comma-flattened with trim (empties dropped); `\d+` excludes a
    * whole step, `\d+\.\d+` one (step, substep) pair — numeric ids
    * with a DOT, not names — and any other token is returned as
    * invalid so the caller can warn (the CLI prints "[WARN] Ignoring
    * invalid --exclude value", it never aborts). */
  def parseExcludes(
      tokens: Seq[String]): (Set[Int], Set[(Int, Int)], Seq[String]) = {
    val flat = tokens.flatMap(_.split(",", -1)).map(_.trim).filter(_.nonEmpty)
    val steps = Set.newBuilder[Int]
    val subs = Set.newBuilder[(Int, Int)]
    val invalid = Seq.newBuilder[String]
    // Python's int() is unbounded, so huge numeric tokens are VALID
    // excludes that simply never match a real step number — parse
    // overflow must drop them silently (observable-equivalent), never
    // throw and never mark them invalid. `(?U)` matches Python's \d,
    // which accepts Unicode decimal digits ("٣" is a valid step id);
    // Integer.parseInt shares that alphabet via Character.digit.
    flat.foreach {
      case s if s.matches("(?U)\\d+") => s.toIntOption.foreach(steps += _)
      case s if s.matches("(?U)\\d+\\.\\d+") =>
        val Array(a, b) = s.split("\\.")
        for (x <- a.toIntOption; y <- b.toIntOption) subs += ((x, y))
      case s => invalid += s
    }
    (steps.result(), subs.result(), invalid.result())
  }

  /** One numbered plan row (core/pipeline.py:15-21): `substep` None =
    * a step-level script (convertToJson/convertToExcel), 0 = a
    * heading-only meta row (never run, never excludable), 1.. = a
    * component script. */
  final case class PlanItem(step: Int, substep: Option[Int], title: String,
      stage: Option[Stage])

  /** The reference's step NUMBERING (core/pipeline.py:67-147), quirks
    * included: convert-to-json is step 1 and consumes the number even
    * when missing (a warning is emitted and 2 is still the first
    * group); an EMPTY component group consumes no number; each present
    * group gets a substep-0 heading plus natural-sorted substeps 1..n;
    * convert-to-excel takes the next number at the end. */
  def numberedPlan(convertToJson: Option[Stage],
      groups: Seq[(String, Seq[Stage])],
      convertToExcel: Option[Stage]): (Seq[PlanItem], Seq[String]) = {
    val plan = Seq.newBuilder[PlanItem]
    val warns = Seq.newBuilder[String]
    var n = 1
    convertToJson match {
      case Some(st) =>
        plan += PlanItem(n, None, s"Step $n: convertToJson", Some(st))
      case None =>
        // Reference phrasing is f"{conv_json} not found; 'convert to
        // json' will be skipped." (core/pipeline.py:91); stages here
        // carry no filesystem path, so the path prefix is elided.
        warns += "not found; 'convert to json' will be skipped."
    }
    n += 1 // consumed either way (core/pipeline.py:92)
    groups.foreach { case (label, stages) =>
      if (stages.nonEmpty) {
        plan += PlanItem(n, Some(0), s"Step $n: $label", None)
        stages.sortBy(s => naturalKey(s.substep)).zipWithIndex.foreach {
          case (st, i) =>
            plan += PlanItem(n, Some(i + 1),
              s"Step $n.${i + 1}: ${st.substep}", Some(st))
        }
        n += 1 // empty groups consume no number (:98-100)
      }
    }
    convertToExcel match {
      case Some(st) =>
        plan += PlanItem(n, None, s"Step $n: convertToExcel", Some(st))
      case None => // core/pipeline.py:141-143 warns on this branch too
        // f"{conv_excel} not found; 'convert to excel' will be
        // skipped." — path prefix unavailable (no filesystem stage id).
        warns += "not found; 'convert to excel' will be skipped."
    }
    (plan.result(), warns.result())
  }

  /** Exclude application (cli/command.py:56-66): a step-level item is
    * skipped only by its step number; a substep item by its step OR
    * its (step, substep) pair; meta rows are headings and never run
    * regardless. Returns the runnable stages in plan order. */
  def pruneNumbered(plan: Seq[PlanItem], excludeSteps: Set[Int],
      excludeSubs: Set[(Int, Int)]): Seq[Stage] =
    plan.flatMap { it =>
      it.substep match {
        case Some(0) => None // heading
        case None =>
          if (excludeSteps.contains(it.step)) None else it.stage
        case Some(s) =>
          if (excludeSteps.contains(it.step) ||
            excludeSubs.contains((it.step, s))) None
          else it.stage
      }
    }

  /** Execute in order; a failing stage is recorded and skipped (its
    * input flows on). Each stage runs once: its output is materialized
    * with an eager `localCheckpoint` inside the stage's `Try`, so a
    * failure while executing degrades exactly like one while building
    * the plan, and `elapsedS` times the execution. A lost checkpoint
    * block fails the next read instead of silently re-running the stage
    * (as an evicted cache would, polling the devices again). The blocks
    * are not released here: `RunSummary.out` and the frames handed to
    * `checkpoint` read them, so the caller ([[Refresh]]) releases the
    * frames handed to `checkpoint` (every materialized output).
    * `checkpoint` is called after each successful stage with that
    * stage's materialized output. Every Spark job a stage runs (its
    * checkpoint's, and any an eager call runs while the stage builds
    * its plan) carries the job description
    * `step:substep`; the caller's description is restored after the
    * stage, so the `checkpoint` callback's jobs keep it. */
  def run(input: DataFrame, stages: Seq[Stage],
      checkpoint: (String, DataFrame) => Unit = (_, _) => ()): RunSummary = {
    val sc = input.sparkSession.sparkContext
    val (results, out) = stages.foldLeft((Vector.empty[StageResult], input)) {
      case ((acc, df), st) =>
        val t0 = System.nanoTime()
        val name = s"${st.step}:${st.substep}"
        val prevDesc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(name)
        val attempt = try Try(st.f(df).localCheckpoint())
          finally sc.setJobDescription(prevDesc)
        attempt match {
          case Success(next) =>
            checkpoint(name, next)
            val r = StageResult(st.step, st.substep, ok = true,
              (System.nanoTime() - t0) / 1e9, None)
            (acc :+ r, next)
          case Failure(e) =>
            val r = StageResult(st.step, st.substep, ok = false,
              (System.nanoTime() - t0) / 1e9, Some(e.getMessage))
            (acc :+ r, df)
        }
    }
    RunSummary(results, out)
  }
}
