package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TaskParams
import graft.jobs.{AdverStatJob, AreaTop3Job, IngestJob, SessionJob}

/** A workload: its closed-loop ops and the job lifecycle it runs after
  * the closed loop. */
trait Workload {
  def ops(h: Harness): Seq[Op]
  /** Whether set-up runs the job lifecycle once before it is measured. */
  def warmJob: Boolean = false
  /** One run of the workload's job lifecycle. */
  def job(h: Harness, cycle: Int, warm: Boolean = false): Unit
  /** Workload-specific measured phase after the jobs. */
  def extra(h: Harness): Unit = ()
  /** Anything the Python side needs to check or report. */
  def report(h: Harness): Map[String, Any] = Map.empty
}

object Workloads {
  def apply(name: String, args: Map[String, String]): Workload = name match {
    case "commerce_batch" => CommerceBatch
    case "ad_stream" => new AdStream(args("feed-ctl"), args("feed-in"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The reference's offline traffic, with graft's LLM-data batch operators
  * on top: one query of each commerce family (category, session,
  * relational, misc, multimodal), two d/e queries (a kernel self-join
  * and an ANN memo serve path), two `Tables` scans, and the 需求1–6 job
  * lifecycle. */
object CommerceBatch extends Workload {
  val scans: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "lineitem" -> Tables.lineitem, "events" -> Tables.events)
  val queries = Seq("c07_area_top3", "s04_filtered_stats", "q04_window_topk",
    "q22_grouping_sets", "m05_sentinels", "mm04_resize_stub",
    "d26_simhash_neardup", "e05_ivf_ann")

  def ops(h: Harness): Seq[Op] =
    queries.map(h.queryOp) ++ scans.map { case (t, r) => h.scanOp(t, r) }

  // SessionJob's first run in a JVM pays ~3 s of plan compilation that
  // varies run to run; a warm run in set-up keeps job_s steady
  override def warmJob: Boolean = true

  /** Seed-drawn task parameters: a date window inside the fixture's
    * month, the event types (the page-flow route's steps always kept so
    * 需求5 has rows), a value range, and one of three routes. */
  def params(rng: scala.util.Random): String = {
    val start = 1 + rng.nextInt(8)
    val end = 22 + rng.nextInt(9)
    val types = Seq("view", "click", "purchase") ++
      Seq("signup", "error").filter(_ => rng.nextBoolean())
    val routes = Seq("view,click,purchase", "view,click,view,purchase", "click,view,purchase")
    f"""{"startDate":"2024-01-$start%02d","endDate":"2024-01-$end%02d","eventTypes":"${types.mkString(",")}","minValue":"${rng.nextInt(20)}.0","maxValue":"${300 + rng.nextInt(200)}.0","targetPageFlow":"${routes(rng.nextInt(routes.size))}"}"""
  }

  def job(h: Harness, cycle: Int, warm: Boolean): Unit = {
    val pj = params(h.rng)
    val p = TaskParams.fromJson(pj)
    h.runJob("session", cycle, Seq(SessionJob.StatsTable, SessionJob.RatioTable,
      SessionJob.ExtractTable, SessionJob.Top10CategoryTable, SessionJob.Top10SessionTable,
      SessionJob.FlowTable), pj, warm) { uuid =>
      SessionJob.run(h.spark, h.data, h.url, h.props, p, uuid)
    }
    h.runJob("area_top3", cycle, Seq(AreaTop3Job.Table), pj, warm) { uuid =>
      AreaTop3Job.run(h.spark, h.data, h.url, h.props, p, uuid)
    }
  }

  override def report(h: Harness): Map[String, Any] = Map(
    "scan_rows" -> scans.map { case (t, _) => t -> h.rows(s"scan_$t") }.toMap)
}

/** Layer probes a traced run adds after the measured phase: the injected
  * SQL functions, each a `selectExpr` over a fixed, replicated fixture
  * input, and the incremental index's write path — a seeded day-1 build
  * and day-N ingests that probe the stored index and append to it. */
object Probes {
  val kernels: Seq[(String, String)] = Seq(
    "minhash_sig" -> "min_hash_sig(text)",
    "word_shingles" -> "word_shingles(text, 3)",
    "rolling_hash" -> "rolling_hash(text, 16)",
    "sim_hash" -> "sim_hash(text)",
    "p_hash64" -> "p_hash64(text, doc_id)",
    "bloom_probe" -> s"bloom_probe(text, array(${(1 to 16).map(i => s"${i * 7919L}L").mkString(", ")}), 1024, 7)",
    "long_dot" -> "long_dot(lvec, lvec)")
  val Replicas = 8
  val Reps = 3
  val Days = 4

  /** Median seconds of `Reps` timed runs of each kernel after one warm
    * run; the output's checksum must repeat. */
  def functions(h: Harness): Map[String, Any] = {
    val s = h.spark
    val input = Tables.documents(s, h.data).crossJoin(s.range(Replicas).withColumnRenamed("id", "rep"))
      .select(col("text"), col("doc_id"),
        expr("transform(sequence(1, 64), i -> pmod(xxhash64(doc_id, rep, i), 1000))").as("lvec"))
      .repartition(h.cores).localCheckpoint(eager = true)
    val out = kernels.map { case (k, e) =>
      val op = Op(s"fn_$k", "kernel", () => input.selectExpr(s"$e AS r"))
      h.runOp(op, -1, record = false)
      val runs = (1 to Reps).map(_ => h.runOp(op, 0, record = false))
      k -> Map("s" -> runs.map(r => (r.t1 - r.t0) / 1000.0).sorted.apply(Reps / 2),
        "ok" -> runs.forall(_.ok))
    }.toMap
    input.rdd.unpersist()
    out
  }

  private def day(dir: String, d: Int): DataFrame =
    SparkSession.active.read.parquet(dir).where(col("ingest_day") === d).drop("ingest_day")

  /** Seeded day slicing (~70% of the corpus is day 1, the rest spread
    * over days 2..Days), a day-1 index build with the centroid table
    * trained on the full history (the IncrementalIndexSpec formulation),
    * then one ingest per later day; day 2 is the warm-up. */
  def index(h: Harness): Map[String, Any] = {
    val s = h.spark
    val dayOf = (id: org.apache.spark.sql.Column) =>
      when(pmod(xxhash64(id, lit(h.seed)), lit(10)) < 7, lit(1))
        .otherwise(lit(2) + pmod(xxhash64(id, lit(h.seed + 1)), lit(Days - 1)))
    val base = s"${h.work}/ingest"
    val (docsDir, vecsDir, indexDir) = (s"$base/docs", s"$base/vecs", s"$base/index")
    graft.etl.Sinks.writePartitioned(Tables.documents(s, h.data)
      .withColumn("ingest_day", dayOf(col("doc_id"))), docsDir, Seq("ingest_day"))
    graft.etl.Sinks.writePartitioned(Tables.embeddings(s, h.data)
      .withColumn("ingest_day", dayOf(col("vec_id"))), vecsDir, Seq("ingest_day"))
    val (_, _, buildS) = h.trace.span(0, "index_build", "day1")(_ =>
      IngestJob.buildIndex(s, day(docsDir, 1), day(vecsDir, 1), indexDir,
        centroidTrain = Some(Tables.embeddings(s, h.data))))
    val runs = (2 to Days).map { d =>
      h.runJob("ingest_batch", d, Seq(IngestJob.TextTable, IngestJob.EmbeddingTable),
        s"""{"day":$d}""", warm = d == 2) { uuid =>
        IngestJob.ingestBatch(s, day(docsDir, d), day(vecsDir, d), indexDir,
          h.url, h.props, uuid)
      }
    }
    val (files, bytes) = h.dirSize(indexDir)
    Map("build_s" -> buildS, "files" -> files, "mb" -> bytes / 1e6,
      "ingest" -> runs.filterNot(_.warm).map(r => Seq(r.t0, r.t1)))
  }
}

/** The real-time traffic: the st* streaming queries in a closed loop, the
  * 需求7–10 job, and the open-loop ad-click feed folded into a JDBC store. */
final class AdStream(ctl: String, incoming: String) extends Workload {
  private val calls = ArrayBuffer[(Double, Double)]()
  private var storeRows: Seq[Seq[Any]] = Nil
  val Keys = Seq("date", "province", "city", "ad_id")
  val StoreTable = "ad_stat"
  // its own database: the job lifecycle writes an ad_stat table too
  private def storeUrl(h: Harness) = s"jdbc:derby:memory:perfbench_feed_${h.seed};create=true"

  def ops(h: Harness): Seq[Op] =
    Seq("st01_parse_count", "st04_cumulative_state", "st05_threshold_promote",
      "st12_running_rollup").map(h.queryOp)

  def job(h: Harness, cycle: Int, warm: Boolean): Unit =
    h.runJob("adver_stat", cycle, Seq(AdverStatJob.TrendTable, AdverStatJob.StatTable,
      AdverStatJob.Top3Table, AdverStatJob.BlacklistTable), "{}", warm) { uuid =>
      AdverStatJob.run(h.spark, h.data, h.url, h.props, uuid)
    }

  private def touch(name: String): Unit =
    Files.write(Paths.get(ctl, name), Array.emptyByteArray)
  private def exists(name: String): Boolean = Files.exists(Paths.get(ctl, name))
  private def await(name: String, timeoutS: Double): Unit = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!exists(name)) {
      if (System.nanoTime() > end) throw new IllegalStateException(s"feed generator never wrote $name")
      Thread.sleep(5)
    }
  }

  /** One runner call: an AvailableNow fold of every file not yet folded
    * into the store, with a stable checkpoint. */
  private def call(h: Harness, ckpt: String, parent: Int): Unit = {
    val s = h.spark
    val empty = {
      import s.implicits._
      Seq.empty[(String, String, String, Long, Long)]
        .toDF("date", "province", "city", "ad_id", "clicks")
    }
    val t0 = h.trace.nowMs()
    h.trace.span(parent, "call", "feed") { _ =>
      graft.streaming.Streams.runForeachBatchJdbc(s, "append", empty, storeUrl(h), StoreTable,
        h.props, ckpt) { ss =>
        ss.readStream.text(incoming)
          .select(split(col("value"), " ").as("f"))
          .select(
            date_format(timestamp_millis(col("f").getItem(0).cast("long")), "yyyy-MM-dd").as("date"),
            col("f").getItem(1).as("province"), col("f").getItem(2).as("city"),
            col("f").getItem(4).cast("long").as("ad_id"))
      } { (store, batch) =>
        graft.etl.Upsert.accumulate(store,
          batch.groupBy(Keys.map(col): _*).agg(count(lit(1)).as("clicks")), Keys, "clicks")
      }
    }
    calls += ((t0, h.trace.nowMs()))
  }

  /** The feed: signal the generator, fold its warm-up file, then call the
    * runner back to back until a call has started after the generator
    * finished, so every file is folded. */
  override def extra(h: Harness): Unit = {
    val ckpt = s"${h.work}/feed-ckpt"
    h.trace.span(0, "feed", "ladder") { id =>
      touch("start")
      await("warm_written", 60)
      call(h, ckpt, id)
      touch("ladder")
      var finished = false
      while (!finished) {
        val doneBefore = exists("done")
        call(h, ckpt, id)
        finished = doneBefore
        if (calls.size > 2000) throw new IllegalStateException("feed never finished")
      }
    }
    storeRows = h.spark.read.jdbc(storeUrl(h), StoreTable, h.props)
      .select(Keys.map(col) :+ col("clicks"): _*).collect().toSeq
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
  }

  override def report(h: Harness): Map[String, Any] =
    Map("feed_calls" -> calls.map { case (a, b) => Seq(a, b) }, "store" -> storeRows)
}
