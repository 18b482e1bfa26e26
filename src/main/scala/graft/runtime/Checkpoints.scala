package graft.runtime

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession

import graft.select.{FittedSelector, SelectorPipeline, SelectorStep}

/** Commit-level per-step checkpoints so a killed fit resumes EXACTLY
  * (north_rule: "resumable from checkpoint with per-partition lineage +
  * metrics"). A fitted step's entire state is O(#features) — scores +
  * excluded names — so the checkpoint is a small JSON document written
  * atomically (temp file + move) under `<dir>/step_<i>_<name>.json`.
  *
  * Resume contract: `fitOrResume` replays completed steps from their
  * checkpoints (byte-identical state — no recompute, no drift) and runs the
  * remaining ones, so fit(k steps) interrupted after j steps redoes only
  * k − j. A checkpoint replays only for the fit it belongs to: its
  * `fingerprint` field hashes the step's case-class rendering (every
  * parameter), the outcome, the requested predictors, the columns the step
  * was fitted on and the caller's `lineage` string. A rerun with another
  * `topP`, method, predictor list or input store finds a different or
  * missing fingerprint, refits that step and says so in the step's
  * `warnings`. A checkpoint that cannot be parsed is refitted with a
  * warning too. A step whose
  * rendering is not stable across JVMs never replays: `VipStep`'s
  * function-valued `importanceFn` prints as a lambda identity, so a VipStep
  * always refits on resume, which is the safe direction.
  */
object Checkpoints {

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** JSON has no non-finite numbers, so a NaN or ±Infinity score (AovStep
    * scores −log10(0) = Infinity when p underflows) is written as the string
    * `"NaN"`, `"Infinity"` or `"-Infinity"`, which [[fromJson]] reads back. */
  def toJson(f: FittedSelector, fingerprint: String): String = {
    val scores = f.scores.map {
      case (k, Some(v)) if !v.isFinite => s""""${esc(k)}":"$v""""
      case (k, Some(v)) => s""""${esc(k)}":$v"""
      case (k, None)    => s""""${esc(k)}":null"""
    }.mkString("{", ",", "}")
    val excluded = f.excluded.map(e => s""""${esc(e)}"""").mkString("[", ",", "]")
    val warnings = f.warnings.map(w => s""""${esc(w)}"""").mkString("[", ",", "]")
    s"""{"step":"${esc(f.step)}","outcome":"${esc(f.outcome)}","scores":$scores,""" +
      s""""excluded":$excluded,"warnings":$warnings,"fingerprint":"${esc(fingerprint)}"}"""
  }

  /** Reader for the checkpoint shape written above, on the json4s parser
    * that ships with Spark — a hand-rolled scanner here went through two
    * rounds of escaping/nesting fixes and still risked fabricating state on
    * truncated input. json4s throws on malformed JSON, which is exactly
    * what [[fitOrResume]]'s refit fallback needs; missing keys throw too
    * (a half-written document must never resume as empty state). */
  def fromJson(json: String): FittedSelector = {
    import org.json4s._
    val ast = org.json4s.jackson.JsonMethods.parse(json)
    def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"corrupt checkpoint: $what in $json")
    def str(key: String): String = ast \ key match {
      case JString(v) => v
      case _          => fail(s"missing string `$key`")
    }
    def arr(key: String): Seq[String] = ast \ key match {
      case JArray(xs) => xs.map { case JString(v) => v; case other => fail(s"non-string in `$key`: $other") }
      case _          => fail(s"missing array `$key`")
    }
    val scores = ast \ "scores" match {
      case JObject(fields) => fields.map { case (k, v) =>
        k -> (v match {
          case JNull        => None
          case JDouble(d)   => Some(d)
          case JInt(i)      => Some(i.toDouble)
          case JDecimal(d)  => Some(d.toDouble)
          case JLong(l)     => Some(l.toDouble)
          case JString(v @ ("NaN" | "Infinity" | "-Infinity")) => Some(v.toDouble)
          case other        => fail(s"non-numeric score for `$k`: $other")
        })
      }
      case _ => fail("missing object `scores`")
    }
    FittedSelector(str("step"), str("outcome"), scores, arr("excluded"), arr("warnings"))
  }

  /** The `fingerprint` field of a checkpoint (None when absent). */
  private def fingerprintOf(json: String): Option[String] =
    org.json4s.jackson.JsonMethods.parse(json) \ "fingerprint" match {
      case org.json4s.JString(v) => Some(v)
      case _                     => None
    }

  private def write(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def fingerprint(step: SelectorStep, outcome: String, preds: Seq[String],
      columns: Seq[String], lineage: String): String = {
    val text = Seq(step.toString, outcome, preds.mkString("\u0001"),
      columns.mkString("\u0001"), lineage).mkString("\u0000")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Fit a pipeline with per-step checkpointing; completed steps whose
    * checkpoint in `dir` carries this fit's fingerprint are loaded instead
    * of recomputed. */
  def fitOrResume(
      spark: SparkSession,
      dir: String,
      steps: Seq[(SelectorStep, Seq[String])],
      df: org.apache.spark.sql.DataFrame,
      outcome: String,
      lineage: String = ""
  ): Seq[FittedSelector] =
    SelectorPipeline(steps).fold(df) { (i, step, preds, cur) =>
      val path = Paths.get(dir, f"step_$i%03d_${step.name}.json")
      val fp = fingerprint(step, outcome, preds, cur.columns.toSeq, lineage)
      def refit(warning: Option[String]): FittedSelector = {
        val fresh = step.fit(cur, outcome, preds)
        val f = fresh.copy(warnings = fresh.warnings ++ warning)
        write(path, toJson(f, fp))
        f
      }
      // a corrupt/truncated checkpoint (disk-full mid-escape, partial write
      // outside the atomic path) falls back to refitting the step, with a
      // warning, rather than aborting the whole resume
      val saved =
        if (!Files.exists(path)) None
        else Some(Try {
          val json = Files.readString(path)
          (fromJson(json), fingerprintOf(json))
        })
      saved match {
        case Some(Success((f, Some(`fp`)))) => f
        case Some(Success(_)) => refit(Some(
          s"checkpoint ${path.getFileName} belongs to another fit (parameters or input changed); refitted"))
        case Some(Failure(e)) => refit(Some(
          s"checkpoint ${path.getFileName} is unreadable (${e.getClass.getSimpleName}); refitted"))
        case None => refit(None)
      }
    }
}
