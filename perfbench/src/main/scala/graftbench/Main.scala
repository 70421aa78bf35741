package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Runs one workload and writes its raw record
  * (samples, job runs, spans and listener events) as JSON; `run.py`
  * turns it into metrics and checks the outputs.
  *
  * Args: --workload W --seed N --trace 0|1 --data DIR
  *       --work DIR --out FILE --cores C --passes P
  *       [--feed-ctl DIR --feed-in DIR]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val work = a("work")
    val tracing = a("trace") == "1"
    val builder = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      // the engine's bench settings: AQE defaults, graft's functions
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    val spark = (if (tracing) builder.config(Trace.QeListenerConf._1, Trace.QeListenerConf._2)
      .config(Trace.StreamListenerConf._1, Trace.StreamListenerConf._2) else builder)
      .getOrCreate()
    graft.jobs.Jobs.configure(spark)
    spark.sparkContext.setLogLevel("WARN")

    val trace = new Trace(spark, tracing)
    val h = new Harness(spark, trace, a("data"), work, seed, cores)
    val w = Workloads(a("workload"), a)
    val ops = w.ops(h)
    h.setupStep("warm_up")(h.warmUp(ops))
    if (w.warmJob) h.setupStep("warm_job")(w.job(h, 0, warm = true))
    // the probe runs on a warm JVM, before the last warm pass (so its
    // effect on the next pass lands there); it is not set-up time
    val calBefore = h.calibrate()
    h.setupStep("warm_pass")(h.warmPass(ops))
    val setupS = (trace.nowMs() - jvmStartMs) / 1000.0 - calBefore

    val passes = a("passes").toInt
    val (loop0, loop1) = trace.span(0, "loop", a("workload"))(_ =>
      h.closedLoop(ops, passes))._2
    val pinnedAfter = h.pinnedMb()
    w.job(h, 1)
    w.extra(h)
    val calAfter = h.calibrate()
    val probes =
      if (tracing) Map("functions" -> Probes.functions(h), "index" -> Probes.index(h))
      else Map.empty

    val oracle = ops.filter(_.kind == "query").map(_.name).distinct.flatMap(n =>
      graft.SparkEntry.oracleSql.get(n).map(sql => n -> sql.replace("__SF_DIR__", h.data))).toMap
    val record = Map(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS, "setup_steps" -> h.setupSteps,
      "calibration_before_s" -> calBefore, "calibration_after_s" -> calAfter,
      "loop" -> Seq(loop0, loop1), "passes" -> passes, "ops" -> ops.size, "pinned_mb" -> pinnedAfter,
      "warm_s" -> h.warmSeconds, "samples" -> h.samples, "jobs" -> h.jobRuns,
      "oracle_sql" -> oracle, "report" -> w.report(h), "probes" -> probes,
      "trace" -> (if (trace.enabled) trace.dump() else Map.empty))
    Files.write(Paths.get(a("out")), Json(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
