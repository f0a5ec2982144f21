package perfbench

import org.apache.spark.sql.SparkSession
import perfbench.Workload.check

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/**
 * One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
 * --work <dir> [--spans <file>]`.
 *
 * Starts a `local[k]` session (k = min(4, cores - 1), shuffle partitions =
 * k), sets the workload up, runs one untimed warm op with the full output
 * checks, then runs ops back to back (one client, closed loop) until
 * `--seconds` have passed and at least [[TimedOps]] ops ran, checking each
 * op's outputs, and ends with the workload's end-of-run checks. The timing
 * metrics come from the first [[TimedOps]] untraced ops only, so that every
 * run times the same positions of the JIT warm-up however many ops fit.
 * The last stdout line is the JSON result; with `--trace 0` it holds the
 * end-to-end metrics, with `--trace 1` the per-call layer metrics of the
 * traced ops.
 */
object Main {
  /** Untraced ops after the warm op that the timing metrics are taken from. */
  private val TimedOps = 2
  private val LayerMetrics = Seq(
    "wall_s" -> "s", "jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s",
    "plan_s" -> "s", "idle_s" -> "s", "shuffle_mb" -> "MB", "written_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(key: String): String = opts.getOrElse(key, throw new IllegalArgumentException(s"missing --$key"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val spans = Paths.get(opts.getOrElse("spans", work.resolve("spans.json").toString)).toAbsolutePath
    require(Workload.Names.contains(name), s"unknown workload $name; one of ${Workload.Names.mkString(", ")}")
    require(seconds > 0, "--seconds must be positive")

    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val code =
      try run(spark, name, seed, seconds, trace, work, cores, sessionS, spans)
      finally spark.stop()
    System.exit(code)
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
                  work: Path, cores: Int, sessionS: Double, spans: Path): Int = {
    val data = work.resolve("data")
    Files.createDirectories(data)
    val t = new Tracer(spark, trace)
    val w = Workload(name, spark, data, seed)
    println(s"workload $name seed $seed cores $cores seconds $seconds trace ${if (trace) 1 else 0}")
    println(s"inputs: ${w.describe}")

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def record(what: String, fails: Seq[String]): Unit = {
      attempted += 1
      if (fails.nonEmpty) failed += 1
      fails.foreach(f => failures += s"$what: $f")
    }
    def attempt(what: String)(body: => Seq[String]): Unit =
      record(what, try body catch { case e: Exception => Seq(s"threw $e") })

    val setupS = t.op("setup")(w.setUp(t))._2
    var warmS = 0.0
    var checkS = 0.0
    def timedChecks(checks: Boolean => Seq[String], full: Boolean): Seq[String] = {
      val t0 = System.nanoTime()
      try checks(full) finally checkS += (System.nanoTime() - t0) / 1e9
    }
    attempt("warm op") {
      w.prepare(0)
      val (checks, s) = t.op("warm", traced = false)(w.op(t, 0))
      warmS = s
      timedChecks(checks, full = true)
    }

    // closed loop; a traced run alternates untraced and traced ops, so that
    // it measures its own overhead, and runs at least untraced, traced,
    // untraced: ops still speed up as the JIT warms, and the untraced ops on
    // both sides of a traced one bracket its point on that curve
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var i = 1
    while (failures.isEmpty &&
      ((System.nanoTime() - start) / 1e9 < seconds || untraced.length < TimedOps || (trace && traced.isEmpty))) {
      val tracedOp = trace && i % 2 == 0
      attempt(s"op $i") {
        w.prepare(i)
        val (checks, s) = t.op("op", tracedOp)(w.op(t, i))
        (if (tracedOp) traced else untraced) += s
        timedChecks(checks, full = false)
      }
      i += 1
    }
    if (failures.isEmpty) attempt("end-of-run checks")(timedChecks(_ => w.finish(), full = true))

    val timed = untraced.take(TimedOps).toSeq
    println(f"setup: session ${sessionS}%.3f s, set-up $setupS%.3f s, warm op $warmS%.3f s; " +
      f"output checks $checkS%.3f s")
    def secs(xs: Iterable[Double]) = xs.map(s => f"$s%.3f").mkString(" ")
    println(s"ops: ${untraced.length} untraced (${secs(untraced)} s)" +
      (if (trace) s", ${traced.length} traced (${secs(traced)} s)" else "") +
      s"; timing metrics from the first ${timed.length} untraced")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val storedRatio = w.storedBytesPerInputByte
        Seq(
          ("setup_s", sessionS + setupS + warmS, "s"),
          ("throughput_rows_per_s", w.rowsPerOp * timed.length / timed.sum, "rows/s"),
          ("op_p50_s", median(timed), "s"),
          ("stored_bytes_per_input_byte", storedRatio, "ratio"),
          ("peak_rss_mb", peakRssMb(), "MB"))
      } else {
        val unowned = t.unattributed("op")
        unowned.foreach { case (op, jobs, tasks) =>
          println(s"op span ${op.id}: $jobs jobs and $tasks tasks outside any call span")
        }
        record("trace attribution",
          check(unowned.forall(u => u._2 == 0 && u._3 == 0), "jobs or tasks outside any call span"))
        val overhead = median(traced.toSeq) / median(untraced.toSeq) - 1
        println(f"tracing overhead: traced op p50 ${median(traced.toSeq)}%.3f s vs untraced " +
          f"${median(untraced.toSeq)}%.3f s (${overhead * 100}%+.1f%%, ${traced.length} vs ${untraced.length} ops)")
        t.writeJson(spans)
        println(s"spans written to $spans")
        val calls = t.report()
        for (site <- Workload.CallSites; (metric, unit) <- LayerMetrics) yield {
          val values = calls.getOrElse(site, Seq.empty).map(_(metric))
          (s"$site.$metric", if (values.isEmpty) 0.0 else median(values), unit)
        }
      }

    println(f"failed_ops_frac ${failed.toDouble / attempted}%.4f ($failed of $attempted attempted)")
    failures.foreach(f => println(s"FAILED $f"))
    val correct = failures.isEmpty
    // a run that failed before timing an op has no figures; keep the line valid JSON
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** High-water resident set of this JVM (`VmHWM`), in MiB. */
  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    val line = try status.getLines().find(_.startsWith("VmHWM:")) finally status.close()
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
