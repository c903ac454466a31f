package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Graft, SparkEntry}

/** Closed-loop benchmark driver for one workload.
  *
  * One thread submits one query at a time to `local[cores]` (shuffle
  * partitions = cores). After the session, input registration and a
  * small warm-up job, whole passes over the workload's queries run
  * until `--seconds` have elapsed; every query of the final pass also
  * writes its result, untimed, for the oracle check. The raw
  * per-query, per-pass samples go to `<out>/result.json`; `run.py`
  * turns them into the benchmark's metrics.
  *
  * Usage: Harness --workload W --data DIR --tables t1,t2 --queries q1,q2
  *   --seconds S --trace 0|1 --seed N --cores N --out DIR
  *
  * `--seconds 0` runs exactly one pass (smoke mode).
  * `--trace 1` adds the Spark listener, spans and the kernel
  * micro-benchmarks; end-to-end numbers come from `--trace 0` runs.
  */
object Harness {

  /** Local property naming the phase a job was submitted from. */
  val PhaseKey = "perfbench.phase"

  final case class Sample(query: String, pass: Int, m: Map[String, Double],
                          triggersMs: Seq[Double], failed: Boolean = false)
  final case class Span(query: String, pass: Int, name: String,
                        startNs: Long, endNs: Long, parent: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val queries = a("queries").split(",").toSeq
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val out = Paths.get(a("out"))
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val ts = System.nanoTime()
    val spark = Graft.session(master = s"local[$cores]",
      shufflePartitions = cores, appName = s"perfbench-${a("workload")}")
    val sessionS = (System.nanoTime() - ts) / 1e9

    val streams = new StreamCounters
    spark.streams.addListener(streams)
    val exec = if (trace) {
      val l = new ExecCounters(PhaseKey)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val spans = mutable.ArrayBuffer.empty[Span]

    def runOne(name: String, dir: String, pass: Int, writeTo: Option[String]): Sample =
      try measure(name, dir, pass, writeTo)
      catch { case scala.util.control.NonFatal(e) =>
        // NonFatal: an OOM or a linkage error ends the run loudly
        System.err.println(s"[perfbench] $name pass $pass FAILED: $e")
        spark.sparkContext.setLocalProperty(PhaseKey, null)
        ListenerBusDrain(spark.sparkContext)
        streams.take(); exec.foreach(_.take())
        Sample(name, pass, Map.empty, Nil, failed = true)
      }

    def measure(name: String, dir: String, pass: Int, writeTo: Option[String]): Sample = {
      hygiene(spark)
      SparkEntry.replayWriteNanos.set(0L)
      val sc = spark.sparkContext
      val j0 = jit.getTotalCompilationTime
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "build")
      val df: DataFrame = SparkEntry.queries(name)(spark, dir)
      val t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "plan")
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "action")
      // toRdd.count() runs the physical plan as built, like graft.Bench
      val rows = df.queryExecution.toRdd.count()
      val t3 = System.nanoTime()
      val c1 = cpuNanos()
      val j1 = jit.getTotalCompilationTime
      sc.setLocalProperty(PhaseKey, null)
      val replay = SparkEntry.replayWriteNanos.get()
      ListenerBusDrain(sc)
      val (stream, triggers) = streams.take()
      val execM = exec.map(_.take()).getOrElse(Map.empty)
      writeTo.foreach { p =>
        df.repartition(1).write.mode("overwrite").parquet(p)
        ListenerBusDrain(sc)
        streams.take(); exec.foreach(_.take())
      }
      if (trace) {
        val q = s"$name#$pass"
        spans += Span(name, pass, "query", t0, t3, "")
        spans += Span(name, pass, "build", t0, t1, q)
        spans += Span(name, pass, "plan", t1, t2, q)
        spans += Span(name, pass, "action", t2, t3, q)
      }
      val base = Map(
        "entry.wall_s" -> (t3 - t0) / 1e9, "entry.cpu_s" -> (c1 - c0) / 1e9,
        "entry.build_s" -> (t1 - t0) / 1e9, "entry.plan_s" -> (t2 - t1) / 1e9,
        "entry.action_s" -> (t3 - t2) / 1e9, "entry.rows_out" -> rows.toDouble,
        "entry.replay_write_s" -> replay / 1e9, "jvm.jit_s" -> (j1 - j0) / 1e3)
      Sample(name, pass, base ++ stream ++ execM, triggers)
    }

    // input registration and warm-up: open the workload's input tables
    // and run one small aggregate, the first two steps of graft.Bench's
    // warm-up. Bench's kernel pre-JIT on sf0.001 is left out: it adds
    // 12-20 s of wall time to every run, and with it the JIT still
    // compiled for 16 s during a timed dedup_pairs pass (jvm.jit_s), so
    // it does not take JIT and codegen out of cpu_s.
    val tw = System.nanoTime()
    a("tables").split(",").foreach(t => Graft.table(spark, a("data"), t).limit(10).count())
    spark.range(100).selectExpr("sum(id)").collect()
    val warmupS = (System.nanoTime() - tw) / 1e9

    val seconds = a("seconds").toDouble
    val loopStart = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupCpuS = cpuNanos() / 1e9
    val samples = mutable.ArrayBuffer.empty[Sample]
    var pass = 0
    var lastPassS = 0.0
    var written = 0
    var done = false
    while (!done) {
      pass += 1
      val elapsed = (System.nanoTime() - loopStart) / 1e9
      // the final pass is the one predicted to cross the deadline; it
      // writes every result for the check, outside the timed region.
      // The first pass writes too, in case it already crosses it.
      val last = pass > 1 && elapsed + lastPassS >= seconds
      if (last || pass == 1) written = pass
      queries.foreach { q =>
        samples += runOne(q, a("data"), pass,
          if (written == pass) Some(out.resolve("results").resolve(q).toString) else None)
      }
      lastPassS = samples.filter(_.pass == pass).map(_.m.getOrElse("entry.wall_s", 0.0)).sum
      done = last || (System.nanoTime() - loopStart) / 1e9 >= seconds
    }
    val peakRssMb = peakRssKb() / 1024.0

    val kernels = if (trace) Kernels.run(spark, a("seed").toLong) else Map.empty[String, Double]

    // the manifests tools/check.py reads beside the result directories,
    // naming the queries whose final pass succeeded
    val checked = samples.filter(s => s.pass == written && !s.failed).map(_.query).sorted
    val results = Files.createDirectories(out.resolve("results"))
    Files.writeString(results.resolve("oracle_sql.json"), Json.obj(
      checked.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> Json.str(_))).toSeq))
    Files.writeString(results.resolve("queries.json"),
      checked.map(Json.str).mkString("[", ",", "]"))
    if (trace) Files.writeString(out.resolve("spans.json"), spans.map { s =>
      Json.obj(Seq("query" -> Json.str(s.query), "pass" -> s.pass.toString,
        "name" -> Json.str(s.name), "start_ns" -> (s.startNs - loopStart).toString,
        "end_ns" -> (s.endNs - loopStart).toString, "parent" -> Json.str(s.parent)))
    }.mkString("[\n", ",\n", "\n]\n"))
    Files.writeString(out.resolve("result.json"), Json.obj(Seq(
      "setup_wall_s" -> Json.num(setupS),
      "setup_cpu_s" -> Json.num(setupCpuS),
      "graft.session_s" -> Json.num(sessionS),
      "graft.warmup_s" -> Json.num(warmupS),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "passes" -> pass.toString,
      "kernels" -> Json.obj(kernels.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "samples" -> samples.map { s =>
        Json.obj(Seq("query" -> Json.str(s.query), "pass" -> s.pass.toString,
          "failed" -> s.failed.toString,
          "m" -> Json.obj(s.m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
          "triggers_ms" -> s.triggersMs.map(Json.num).mkString("[", ",", "]")))
      }.mkString("[\n", ",\n", "\n]"))))
    spark.stop()
  }

  /** The isolation graft.Bench applies between queries. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos(): Long = osBean.getProcessCpuTime
  private val jit = ManagementFactory.getCompilationMXBean

  def peakRssKb(): Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    var kb = 0.0
    lines.forEach { l =>
      if (l.startsWith("VmHWM:")) kb = l.split("\\s+")(1).toDouble
    }
    kb
  }
}

/** Minimal JSON rendering for the harness's output files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
