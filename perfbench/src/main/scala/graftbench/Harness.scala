package graftbench

import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, shiftright, sum, xxhash64}

/** One closed-loop operation: `construct` builds the frame (the call into
  * the module's public function, eager work included) and the harness
  * materializes it. With `keep`, the warm-up writes the output to parquet
  * for the oracle check; measured runs write to the `noop` sink. */
final case class Op(name: String, kind: String, construct: () => DataFrame,
                    keep: Boolean = false)

final case class OpSample(name: String, kind: String, pass: Int, t0: Double, t1: Double,
                          construct_s: Double, execute_s: Double, ok: Boolean,
                          err: String, pinned_mb: Double)

final case class JobRun(job: String, cycle: Int, uuid: String, seconds: Double,
                        ok: Boolean, err: String, tables: Map[String, Long],
                        params: String, warm: Boolean, t0: Double, t1: Double)

/** Shared machinery of every workload: the session, the op runner, the
  * job runner with its JDBC store check, the calibration probe. */
final class Harness(val spark: SparkSession, val trace: Trace, val data: String,
                    val work: String, val seed: Long, val cores: Int) {
  val outDir: String = s"$work/out"
  val url: String = s"jdbc:derby:memory:perfbench_$seed;create=true"
  val props = new Properties()
  val rng = new scala.util.Random(seed)

  val samples = ArrayBuffer[OpSample]()
  val warmSeconds = scala.collection.mutable.LinkedHashMap[String, Double]()
  val expected = scala.collection.mutable.Map[String, String]()
  val jobRuns = ArrayBuffer[JobRun]()
  val setupSteps = scala.collection.mutable.LinkedHashMap[String, Double]()

  /** Block-manager storage still pinned (memory + disk), in MB. */
  def pinnedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** graft.Bench's fixed calibration probe: 200M synthetic rows, hash +
    * sum, no I/O. Run context only; never a gated metric. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 200000000L, 1, cores)
      .select(sum(shiftright(xxhash64(col("id")), 32)).as("h")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def setupStep[T](name: String)(body: => T): T = {
    val (_, r, s) = trace.span(0, "setup", name)(_ => body)
    setupSteps(name) = s
    r
  }

  /** Materialize an op's frame and return its checksum, observed while
    * the sink consumes the rows: the row count and the sum of each row's
    * xxhash64 (shifted so the sum stays inside a long), so it does not
    * depend on row order and leaves the plan (sorts included) as it is. */
  def execute(op: Op, df: DataFrame, pass: Int): String = {
    val obs = Observation()
    val w = df.observe(obs, count(lit(1)).as("n"),
        sum(shiftright(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*), 32)).as("h"))
      .write.mode("overwrite")
    if (pass < 0 && op.keep) w.parquet(s"$outDir/${op.name}") else w.format("noop").save()
    val m = obs.get
    s"${m("n")}:${m("h")}"
  }

  /** Run one op; `pass` -1 is the warm-up. Failures (throws or a
    * checksum that differs from the warm-up's) are recorded. */
  def runOp(op: Op, pass: Int, record: Boolean = true): OpSample = {
    var cs = 0.0; var es = 0.0
    var ok = true; var err = ""
    val t0 = trace.nowMs()
    try {
      trace.span(0, "op", op.name) { id =>
        val (_, df, c) = trace.span(id, "construct", op.name)(_ => op.construct())
        cs = c
        val (_, got, e) = trace.span(id, "execute", op.name)(_ => execute(op, df, pass))
        es = e
        if (pass < 0) expected(op.name) = got
        else if (!expected.get(op.name).contains(got)) {
          ok = false
          err = s"checksum $got differs from warm-up ${expected.getOrElse(op.name, "none")}"
        }
      }
    } catch {
      case e: Throwable =>
        ok = false
        err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    val t1 = trace.nowMs()
    val pinned = if (trace.enabled) pinnedMb() else -1.0
    val s = OpSample(op.name, op.kind, pass, t0, t1, cs, es, ok, err, pinned)
    if (record) { if (pass < 0) warmSeconds(op.name) = (t1 - t0) / 1000.0 else samples += s }
    if (!ok) System.err.println(s"[perfbench] op ${op.name} failed: $err")
    s
  }

  /** Warm-up: every op once, in seeded order: the builds (stored memos,
    * codegen) and the outputs the oracle check reads. */
  def warmUp(ops: Seq[Op]): Unit = rng.shuffle(ops).foreach(runOp(_, -1))

  /** One more unrecorded pass, right before the loop. Op latency still
    * fell by about a quarter from the second run of an op to the third,
    * and a probe run between the warm-up and the loop left the next pass
    * about a third slower than the passes after it. */
  def warmPass(ops: Seq[Op]): Unit = rng.shuffle(ops).foreach(runOp(_, 0, record = false))

  /** The closed loop: a fixed number of whole passes, each in a fresh
    * seeded order, one op at a time. Whole passes sample every op equally
    * often, so the sample set differs between runs only in its timings. */
  def closedLoop(ops: Seq[Op], passes: Int): (Double, Double) = {
    val t0 = trace.nowMs()
    (0 until passes).foreach(pass => rng.shuffle(ops).foreach(runOp(_, pass)))
    (t0, trace.nowMs())
  }

  /** Run one job lifecycle under a fresh task UUID, then count the rows
    * each of its tables holds under that UUID. */
  def runJob(job: String, cycle: Int, tables: Seq[String], params: String,
             warm: Boolean = false)(
      body: String => Unit): JobRun = {
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"$seed-$job-${jobRuns.size}".getBytes("UTF-8")).toString
    var ok = true; var err = ""
    val t0 = trace.nowMs()
    try trace.span(0, "job", job)(_ => body(uuid))
    catch { case e: Throwable =>
      ok = false; err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    val t1 = trace.nowMs()
    val counts = tables.map(t => t -> (try countUnder(t, uuid) catch { case _: Exception => -1L })).toMap
    val r = JobRun(job, cycle, uuid, (t1 - t0) / 1000.0, ok, err, counts, params, warm, t0, t1)
    jobRuns += r
    if (!ok) System.err.println(s"[perfbench] job $job failed: $err")
    r
  }

  def countUnder(table: String, uuid: String): Long = withConn { c =>
    val st = c.prepareStatement(s"""SELECT COUNT(*) FROM $table WHERE "task_id" = ?""")
    try { st.setString(1, uuid); val rs = st.executeQuery(); rs.next(); rs.getLong(1) }
    finally st.close()
  }

  def withConn[T](f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  // ---- op builders ----

  /** A registered query; the warm-up's output is checked against the
    * DuckDB oracle on the Python side. */
  def queryOp(name: String): Op = {
    val fn = graft.SparkEntry.queries(name)
    Op(name, "query", () => fn(spark, data), keep = true)
  }

  /** A `Tables` reader, fully materialized. */
  def scanOp(table: String, read: (SparkSession, String) => DataFrame): Op =
    Op(s"scan_$table", "scan", () => read(spark, data))

  /** Rows of an op's warm-up output, from its checksum. */
  def rows(op: String): Long = expected(op).split(":")(0).toLong

  def dirSize(path: String): (Long, Long) = {
    val root = Paths.get(path)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val it = Files.walk(root)
      try {
        val files = it.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
        (files.length.toLong, files.map(p => Files.size(p)).sum)
      } finally it.close()
    }
  }
}
