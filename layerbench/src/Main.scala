package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Layered benchmark of the colinospark engine.
  *
  * One JVM runs one workload as a closed loop with one client: set-up
  * (session start plus input generation, repeated [[setupReps]] times), one
  * cold pass, then warm passes until `--seconds` have gone by (at least
  * one). Every call into a layer is
  * timed as build (the call) plus exec (its frame written to the `noop`
  * sink). The session caches are cleared before each pass.
  *
  * `--trace 0` prints the end-to-end metrics: `setup_s` and the JVM's CPU
  * seconds in the cold and the first warm pass together (`cpu_s`) go into
  * the JSON line; each pass's CPU and wall time are printed. `--trace 1` traces the warm
  * passes, prints their per-layer metrics and writes every span as JSON
  * lines. The last stdout line is one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}`.
  */
object Main {
  final case class Opts(workload: String = "", seed: Int = 42, seconds: Double = 10,
      trace: Boolean = false, smoke: Boolean = false, work: String = ".bench_build/work",
      pins: String = "layerbench/pins.tsv", cores: Int = Runtime.getRuntime.availableProcessors)

  val workloads: Seq[String] = Seq("select_curate", "pipeline_tall")
  /** Input generations per set-up; `setup_s` takes their median. */
  val setupReps = 3
  /** No new pass starts after this, so a run ends well inside 180 s. */
  val maxSeconds = 150.0

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest     => parse(rest, o.copy(seed = v.toInt))
    case "--seconds" :: v :: rest  => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest    => parse(rest, o.copy(trace = v == "1"))
    case "--smoke" :: rest         => parse(rest, o.copy(smoke = true))
    case "--work" :: v :: rest     => parse(rest, o.copy(work = v))
    case "--pins" :: v :: rest     => parse(rest, o.copy(pins = v))
    case "--cores" :: v :: rest    => parse(rest, o.copy(cores = v.toInt))
    case Nil                       => o
    case other :: _                => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of every thread of this JVM: driver, tasks, JIT and GC. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  private def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def jnum(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  /** `--workload all` (the smoke run) runs every workload in this JVM. */
  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val names = if (o.workload == "all") workloads else Seq(o.workload)
    val root = Paths.get(o.work).toAbsolutePath
    Files.createDirectories(root)
    val spark = GraftSession.builder(o.cores)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    try names.foreach { w =>
      val work = root.resolve(w)
      Files.createDirectories(work)
      run(o.copy(workload = w), spark, work.toString, sessionS)
    } finally spark.stop()
  }

  private def run(o: Opts, spark: SparkSession, work: String, sessionS: Double): Unit = {
    val sc = spark.sparkContext
    val size = if (o.smoke) "smoke" else "full"
    val pinLines = scala.io.Source.fromFile(o.pins, "UTF-8").getLines().toList
    val wl = Workload(o.workload, spark, o.seed, o.smoke, work, pinLines)
    // the smoke run checks one cold pass against the smoke pins
    val minWarm = if (o.smoke) 0 else 1
    val gens = (1 to (if (o.smoke) 1 else setupReps)).map(_ => secs(wl.generate()))
    val setupS = sessionS + median(gens)

    val tracer = new Tracer(sc)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val walls = mutable.ArrayBuffer.empty[(Int, Boolean, Double)] // (pass, traced, seconds)
    val cpus = mutable.ArrayBuffer.empty[(Int, Double)]             // (pass, JVM CPU seconds)
    val prePass = mutable.ArrayBuffer.empty[(Double, Int)]         // (pinned MB, persisted RDDs)
    val layerRows = mutable.ArrayBuffer.empty[(Int, Map[String, Double])] // (pass, metrics)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 0
    var more = true
    while (more) {
      val traced = o.trace && p > 0
      if (p > 0) prePass += ((tracer.pinnedMb(), tracer.persistedRdds()))
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      wl.prepare()
      tracer.setTraced(traced)
      val before = tracer.spans.length
      val cpu0 = cpuSeconds()
      val ok =
        try {
          walls += ((p, traced, tracer.pass(p)(wl.pass(tracer))))
          cpus += ((p, cpuSeconds() - cpu0))
          true
        } catch {
          case e: Throwable =>
            failures += s"pass $p: ${e.getClass.getSimpleName}: ${e.getMessage}"
            false
        }
      attempted += tracer.spans.drop(before).count(_.kind == "build")
      more = (elapsed < o.seconds || p < minWarm) && elapsed < maxSeconds
      if (ok) {
        val fails = try wl.check(tracer, full = p == 0 || !more) catch {
          case e: Throwable => Seq(s"check: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        failures ++= fails.map(f => s"pass $p: $f")
      }
      if (traced && ok) {
        tracer.drain()
        layerRows += ((p, Layers.metrics(tracer, p, o.cores)))
      }
      tracer.setTraced(false)
      p += 1
    }

    val failed = failures.length
    failures.foreach(f => System.err.println(s"[layerbench] FAILED $f"))
    val firstPass = walls.find(_._1 == 0).map(_._3).getOrElse(Double.NaN)
    val untraced = walls.filter(w => w._1 > 0 && !w._2).map(_._3).toSeq
    val tracedW = walls.filter(_._2).map(_._3).toSeq
    val wallS = median(untraced)
    // cpu_s is the cold pass plus the first warm pass: the JIT compiles the
    // same methods in every run, but how much of that work lands in the
    // cold pass and how much in the next one varies from run to run (by 10
    // s in 80); their sum does not, and it covers the same passes whatever
    // the number of passes a run fits
    val firstCpu = cpus.find(_._1 == 0).map(_._2).getOrElse(Double.NaN)
    val warmCpu = cpus.find(_._1 == 1).map(_._2).getOrElse(Double.NaN)
    def line(s: String): Unit = println(s"[layerbench] $s")
    line(s"workload ${o.workload} seed ${o.seed} size $size cores ${o.cores} " +
      s"loop closed clients 1 passes ${walls.length} (warm untraced ${untraced.length}, traced ${tracedW.length})")
    line(f"ops attempted $attempted failed $failed fail_ratio ${failed.toDouble / math.max(1, attempted)}%.4f")
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val e2e = Seq(("setup_s", setupS, "s"), ("cpu_s", firstCpu + warmCpu, "s"))
        line(f"set-up: session $sessionS%.3f s + median input generation ${median(gens)}%.3f s " +
          s"of ${gens.map(g => f"$g%.2f").mkString(" ")}")
        line(s"wall_s samples ${untraced.length}: ${untraced.map(x => f"$x%.3f").mkString(" ")} " +
          "(no tail percentile: fewer than 10 passes lie beyond any)")
        line(s"CPU seconds per pass (pass:seconds): ${cpus.map(c => f"${c._1}:${c._2}%.2f").mkString(" ")}")
        val shown = e2e ++ Seq(("first_cpu_s", firstCpu, "s"), ("warm_cpu_s", warmCpu, "s"),
          ("first_pass_s", firstPass, "s"), ("wall_s", wallS, "s")) ++ wl.extras(wallS) :+ (("fail_ratio", failed.toDouble / math.max(1, attempted), "ratio"))
        shown.foreach { case (k, v, u) => line(f"$k%-24s $v%.6g $u") }
        e2e
      } else {
        // runtime.pinned_mb is the state each pass starts from: what the
        // previous pass and its checks left persisted
        val perLayer = Layers.names.map {
          case "runtime.pinned_mb" => ("runtime.pinned_mb", median(prePass.map(_._1).toSeq), "MB")
          case k => (k, median(layerRows.map(_._2.getOrElse(k, 0.0)).toSeq), Layers.unit(k))
        }
        val unattributed = tracer.log.jobs.values.count(j => j.group == null || !j.group.startsWith("graftbench-"))
        val all = perLayer ++ Seq(
          ("runtime.pinned_rdds", median(prePass.map(_._2.toDouble).toSeq), "count"),
          ("trace.wall_s", median(tracedW), "s"),
          ("trace.unattributed_jobs", unattributed.toDouble, "count"))
        Layers.print(tracer, layerRows.toSeq, line)
        line(f"traced wall_s ${median(tracedW)}%.3f s over ${tracedW.length} passes; " +
          "tracing overhead = this minus an untraced run's wall_s")
        line(s"pinned before each pass (MB, RDDs): ${prePass.map(x => f"${x._1}%.1f/${x._2}").mkString(" ")}")
        val spanFile = Paths.get(work, s"spans-seed${o.seed}.jsonl")
        Files.write(spanFile, Layers.spanLines(tracer).mkString("\n").getBytes(StandardCharsets.UTF_8))
        line(s"span file $spanFile (${tracer.spans.length} spans)")
        all.foreach { case (k, v, u) => line(f"$k%-28s $v%.6g $u") }
        all
      }
    Files.write(Paths.get(work, s"observed-seed${o.seed}.tsv"),
      wl.pinsObserved.map { case (w, k, v) => s"$w\t$size\t${o.seed}\t$k\t$v\n" }.mkString
        .getBytes(StandardCharsets.UTF_8))
    val mjson = metrics.map { case (k, v, u) => s"${jstr(k)}:{\"value\":${jnum(v)},\"unit\":${jstr(u)}}" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${mjson.mkString(",")}}}""")
  }
}
