package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.util.Json

/** One timed operation. Times in seconds; `build + plan + exec = wall`. */
final case class Sample(op: String, layer: String, wall: Double, cpu: Double,
                        build: Double, plan: Double, exec: Double, ok: Boolean, traced: Boolean)

/** Benchmark driver: one trial, in its own JVM.
  *
  * Set-up is JVM start, session start and one warm-up pass over the
  * workload's operations. Then passes run in a closed loop with one client
  * while the next one is expected to end within `--seconds`, at least one.
  * With `--check 1` the last pass's results are then written, untimed, for
  * perfbench/run.py's oracle compare. Raw samples go to
  * `<work>/result.json`.
  *
  * With `--trace 1` passes alternate between untraced and traced (at least
  * one of each); traced passes record spans and per-layer listener
  * counters, and the wall ratio of the two is the tracing overhead.
  */
object Main {
  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** `stat` files of the JIT compiler threads. run.py starts the JVM with
    * -XX:-UseDynamicNumberOfCompilerThreads, so they all exist from JVM
    * start and never exit. Empty where there is no /proc. */
  private lazy val compilerStats: Seq[Path] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) Nil
    else Files.list(tasks).iterator().asScala.toSeq.filter { t =>
      val comm = Try(Files.readString(t.resolve("comm")).trim).getOrElse("")
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }.map(_.resolve("stat"))
  }

  /** CPU time of the JIT compiler threads: utime + stime, fields 14 and 15
    * of `stat`, in USER_HZ (100/s) ticks. */
  private def compilerNs: Long = compilerStats.map { p =>
    Try {
      val stat = Files.readString(p)
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
      (f(11).toLong + f(12).toLong) * 10000000L
    }.getOrElse(0L)
  }.sum

  /** Process CPU time (every thread, exited ones and GC included) less the
    * JIT compiler threads. Spark SQL generates new classes for every query,
    * so compilation never settles at this run length: it took 50-70% of
    * process CPU, with run-to-run swings that buried graft's own work. */
  private def cpuNs: Long = osBean.getProcessCpuTime - compilerNs

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.exists(status))
      scala.io.Source.fromFile(status.toFile).getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    else 0.0
  }

  /** Progress line in the driver log: seconds since JVM start. */
  private def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2fs $msg")

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a("workload")
    val (data, work) = (a("data"), a("work"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val check = a("check") == "1"
    val cpus = a("cpus").toInt
    Files.createDirectories(Paths.get(work))

    val spark = session(cpus, work)
    val sc = spark.sparkContext
    log(s"session started; ${compilerStats.size} compiler threads")
    val wl = Workloads(name, data)
    val tracer = new Tracer(name, Paths.get(work).getFileName.toString)
    val samples = ArrayBuffer.empty[Sample]
    val errors = ArrayBuffer.empty[String]
    val checked = ArrayBuffer.empty[String]
    // each operation's result from the latest pass it succeeded in
    val results = scala.collection.mutable.Map.empty[String, DataFrame]

    def runOp(op: String, traced: Boolean, parent: Int): Sample = {
      val layer = wl.layer(op)
      if (traced) sc.setLocalProperty(Layers.Key, layer)
      val c0 = cpuNs
      val t0 = System.nanoTime()
      var t2 = t0
      var planS = 0.0
      val ok = try {
        val df = wl.build(spark, op)
        df.queryExecution.executedPlan
        t2 = System.nanoTime()
        // toRdd, as graft.Bench: every output column is materialized, and
        // nothing is collected to the driver
        df.queryExecution.toRdd.count()
        planS = df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
        results(op) = df
        true
      } catch {
        case e: Throwable =>
          errors += s"$op: ${error(e)}"
          t2 = System.nanoTime()
          false
      }
      val t3 = System.nanoTime()
      val cpu = (cpuNs - c0) / 1e9
      if (traced) sc.setLocalProperty(Layers.Key, null)
      // analysis runs inside the builder; optimization and physical
      // planning when executedPlan is forced: build + plan = t2 - t0
      val pre = (t2 - t0) / 1e9
      val plan = math.min(planS, pre)
      val split = t0 + ((pre - plan) * 1e9).toLong
      if (traced) {
        val id = tracer.record(parent, layer, op, t0, t3)
        tracer.record(id, layer, "build", t0, split)
        tracer.record(id, layer, "plan", split, t2)
        tracer.record(id, layer, "exec", t2, t3)
      }
      Sample(op, layer, (t3 - t0) / 1e9, cpu, pre - plan, plan, (t3 - t2) / 1e9, ok, traced)
    }

    // warm-up pass: every operation once, materialized as in a timed pass
    // (a failure here counts as a failed operation in run.py)
    wl.ops.foreach { op =>
      log(s"warm-up: $op")
      try wl.build(spark, op).queryExecution.toRdd.count()
      catch { case e: Throwable => errors += s"$op (warm-up): ${error(e)}" }
    }
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    wl.reset(spark)

    val listener = new LayerListener
    val passes = ArrayBuffer.empty[(Boolean, Double)]
    val start = System.nanoTime()
    var traced = false
    // `--seconds 0` times nothing: run.py's class-sharing dump JVM
    def more: Boolean = seconds > 0 && (passes.size < (if (trace) 2 else 1) ||
      (System.nanoTime() - start) / 1e9 + passes.last._2 <= seconds)
    while (more) {
      if (passes.nonEmpty) wl.reset(spark)
      if (trace) {
        traced = !traced
        if (traced) sc.addSparkListener(listener)
      }
      val pass = if (traced) tracer.reserve() else 0
      val p0 = System.nanoTime()
      wl.ops.foreach(op => samples += runOp(op, traced, pass))
      val p1 = System.nanoTime()
      if (traced) {
        tracer.record(pass, 0, "bench", "pass", p0, p1)
        org.apache.spark.BenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      passes += traced -> (p1 - p0) / 1e9
    }
    log(s"timed loop done: ${passes.size} passes")
    val rss = peakRssMb

    if (check) {
      // after the timed loop, so checking is neither set-up nor timed: the
      // last pass's results (its session caches and exports still in
      // place) are written whole for run.py's oracle compare. An operation
      // that failed in every pass is already a failed sample.
      wl.ops.filter(results.contains).foreach { op =>
        try {
          results(op).coalesce(1).write.mode("overwrite").parquet(s"$work/check/$op")
          checked += op
        } catch { case e: Throwable => errors += s"$op (check): ${error(e)}" }
      }
      val oracles = SparkEntry.oracleSql
      val sql = checked.filter(oracles.contains)
        .map(q => s"${Json.q(q)}:${Json.q(oracles(q))}").mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$work/oracle_sql.json"), sql)
    }
    val sparkVersion = spark.version
    spark.stop()

    val counts = listener.snapshot
    val countsJson = counts.map { case (l, m) =>
      s"${Json.q(l)}:" + m.map { case (k, v) => s"${Json.q(k)}:${num(v)}" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val sampleJson = samples.map(s =>
      s"""{"op":${Json.q(s.op)},"layer":${Json.q(s.layer)},"wall":${num(s.wall)},"cpu":${num(s.cpu)},""" +
        s""""build":${num(s.build)},"plan":${num(s.plan)},"exec":${num(s.exec)},"ok":${s.ok},"traced":${s.traced}}""")
    val result =
      s"""{"workload":${Json.q(name)},"spark":${Json.q(sparkVersion)},"ops":${wl.ops.map(Json.q).mkString("[", ",", "]")},""" +
        s""""setup_s":${num(setupS)},"peak_rss_mb":${num(rss)},""" +
        s""""passes":${passes.map { case (t, w) => s"""{"traced":$t,"wall":${num(w)}}""" }.mkString("[", ",", "]")},""" +
        s""""samples":${sampleJson.mkString("[", ",\n", "]")},""" +
        s""""errors":${errors.map(Json.q).mkString("[", ",", "]")},""" +
        s""""checked":${checked.map(Json.q).mkString("[", ",", "]")},""" +
        s""""layer_counts":$countsJson}"""
    Files.writeString(Paths.get(s"$work/result.json"), result)
    if (trace) Files.writeString(Paths.get(s"$work/trace.json"), tracer.json(s""""listener":$countsJson"""))
  }
}
