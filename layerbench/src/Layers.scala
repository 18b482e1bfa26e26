package graftbench

/** Per-layer metrics of one traced pass, from its spans and the jobs,
  * stages and tasks the [[JobLog]] attributed to them. */
object Layers {
  val layers: Seq[String] = Seq("core", "temporal", "stats", "select", "runtime", "text", "sim", "graph")
  val kinds: Seq[(String, String)] = Seq(
    "build_s" -> "s", "exec_s" -> "s", "jobs" -> "count", "task_s" -> "s", "busy" -> "ratio",
    "gap_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "out_mb" -> "MB", "skew" -> "ratio",
    "pinned_mb" -> "MB")
  val names: Seq[String] = for (l <- layers; (k, _) <- kinds) yield s"$l.$k"
  def unit(name: String): String = kinds.toMap.getOrElse(name.split('.').last, "")

  /** Length of the union of [s, e) intervals clipped to [lo, hi). */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (s, e) => (s max lo, e min hi) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def metrics(t: Tracer, pass: Int, cores: Int): Map[String, Double] = {
    val log = t.log
    val spans = t.spans.filter(s => s.pass == pass && (s.kind == "build" || s.kind == "exec"))
    layers.flatMap { layer =>
      val ss = spans.filter(_.layer == layer)
      val groups = ss.map(s => t.group(s.id)).toSet
      val jobs = log.jobs.values.filter(j => groups.contains(j.group)).toSeq
      val stages = log.stages.values.filter(s => groups.contains(s.group)).toSeq
      val build = ss.filter(_.kind == "build").map(_.seconds).sum
      val exec = ss.filter(_.kind == "exec").map(_.seconds).sum
      val taskS = stages.map(_.taskMs).sum / 1000.0
      val gap = ss.map { s =>
        val g = t.group(s.id)
        val iv = jobs.filter(_.group == g).map(j => (j.start.toDouble, j.end.toDouble))
        (s.end - s.start - covered(iv, s.start, s.end)) / 1000
      }.sum
      val skew = if (stages.isEmpty) 0.0 else {
        val longest = stages.maxBy(_.duration)
        val ts = longest.taskTimes.sorted
        if (ts.isEmpty) 0.0 else ts.last.toDouble / math.max(1.0, Main.median(ts.map(_.toDouble).toSeq))
      }
      val pinned = ss.map(_.pinnedMb).filterNot(_.isNaN).sum
      Seq(
        "build_s" -> build, "exec_s" -> exec, "jobs" -> jobs.length.toDouble, "task_s" -> taskS,
        "busy" -> (if (build + exec > 0) taskS / ((build + exec) * cores) else 0.0),
        "gap_s" -> gap,
        "shuffle_mb" -> stages.map(_.shuffleBytes).sum / 1e6,
        "spill_mb" -> stages.map(_.spillBytes).sum / 1e6,
        "out_mb" -> stages.map(_.outBytes).sum / 1e6,
        "skew" -> skew,
        "pinned_mb" -> pinned
      ).map { case (k, v) => s"$layer.$k" -> v }
    }.toMap
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfSeconds(t: Tracer): Map[Long, Double] = {
    val kids = t.spans.groupBy(_.parent)
    t.spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      s.id -> (s.end - s.start - covered(iv, s.start, s.end)) / 1000
    }.toMap
  }

  /** Per-layer self time and job count per traced pass: median, with the
    * range of job counts (they do not fully repeat between passes). */
  def print(t: Tracer, rows: Seq[(Int, Map[String, Double])], line: String => Unit): Unit = {
    val self = selfSeconds(t)
    val traced = rows.length
    val tracedPasses = rows.map(_._1).toSet
    layers.foreach { l =>
      val jobs = rows.map(_._2.getOrElse(s"$l.jobs", 0.0))
      val perPass = tracedPasses.toSeq.map(p =>
        t.spans.filter(s => s.layer == l && s.pass == p).map(s => self(s.id)).sum)
      if (jobs.exists(_ > 0))
        line(f"layer $l%-8s self ${Main.median(perPass)}%.3f s/pass jobs ${Main.median(jobs)}%.0f " +
          f"[${jobs.min}%.0f..${jobs.max}%.0f] over $traced traced passes")
    }
    val glue = t.spans.filter(s => s.kind == "pass" && tracedPasses.contains(s.pass)).map(s => self(s.id))
    if (glue.nonEmpty) line(f"bench glue inside traced passes (pass self time) median ${Main.median(glue.toSeq)}%.3f s")
  }

  def spanLines(t: Tracer): Seq[String] = {
    val jobsBy = t.log.jobs.values.groupBy(_.group)
    val stagesBy = t.log.stages.values.groupBy(_.group)
    val self = selfSeconds(t)
    t.spans.sortBy(_.start).map { s =>
      val jobs = jobsBy.getOrElse(t.group(s.id), Nil).map(_.id).toSeq.sorted
      val stages = stagesBy.getOrElse(t.group(s.id), Nil)
      s"""{"id":${s.id},"name":${Main.jstr(s.name)},"layer":${Main.jstr(s.layer)},""" +
        s""""op":${Main.jstr(s.op)},"kind":${Main.jstr(s.kind)},"pass":${s.pass},""" +
        s""""start":${Main.jnum(s.start)},"end":${Main.jnum(s.end)},"parent":${s.parent},""" +
        s""""self_s":${Main.jnum(self(s.id))},"pinned_mb":${Main.jnum(s.pinnedMb)},""" +
        s""""stages":${stages.size},"tasks":${stages.map(_.taskTimes.length).sum},""" +
        s""""task_s":${Main.jnum(stages.map(_.taskMs).sum / 1000.0)},"jobs":[${jobs.mkString(",")}]}"""
    }.toSeq
  }
}
