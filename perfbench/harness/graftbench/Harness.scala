package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Caches, GraftSession, SparkEntry, Substrate}

/** Closed-loop pipeline benchmark: one client, one key at a time, through
  * the public `SparkEntry.queries` operator functions.
  *
  * A run builds one session, warms the harness up, then runs the key list
  * in passes. Pass 0 is the cold pass (janino compiles, model fits and
  * substrate builds land in it). An untimed verify pass follows: it writes
  * each key's output as parquet next to its oracle SQL, for the caller's
  * DuckDB check, and lets the JIT settle before the warm passes, which
  * repeat until `--seconds` of warm wall time have passed. Every timed
  * key's output is materialized with a `noop` write and `Caches.clear()`
  * runs after each key inside the pass wall.
  *
  * With `--trace 1` the cold pass and every other warm pass run with the
  * listeners attached; the untraced warm passes in between give the
  * tracing overhead. The result is one JSON file, `result.json`, in `--out`.
  *
  * Usage: Harness --keys k1:Module,k2:Module --input DIR --out DIR
  *   --seconds S --seed N --trace 0|1 --cores C --spawn-ms EPOCH_MS
  */
object Harness {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class KeyRun(pass: Int, key: String, module: String, group: String,
                          startMs: Long, endMs: Long, planNs: Long, execNs: Long,
                          clearNs: Long, error: Option[String])
  final case class PassRun(index: Int, traced: Boolean, startMs: Long, endMs: Long,
                           wallNs: Long, keys: Seq[KeyRun], before: Snap, after: Snap) {
    def cold: Boolean = index == 0
    def wallS: Double = wallNs / 1e9
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spawnMs = opt("spawn-ms").toLong
    val cores = opt("cores").toInt
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)

    val spark = GraftSession.local(cores, appName = "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    // harness warm-up: one scheduled job and one noop write, so the
    // first key does not pay for the scheduler's and writer's first use
    spark.range(0, 100000, 1, cores).selectExpr("sum(id)").collect()
    spark.range(1000).write.mode("overwrite").format("noop").save()
    val keys = opt("keys").split(',').toSeq.map { kv =>
      val Array(k, m) = kv.split(':')
      (k, m, SparkEntry.queries.getOrElse(k, sys.error(s"unknown key $k")))
    }
    val readyMs = System.currentTimeMillis()
    val setupS = (readyMs - spawnMs) / 1000.0
    val setupPhases = Map("jvm_s" -> (mainMs - spawnMs) / 1000.0,
      "session_s" -> (sessionMs - mainMs) / 1000.0, "warmup_s" -> (readyMs - sessionMs) / 1000.0)

    val input = opt("input")
    val seconds = opt("seconds").toDouble
    val traceOn = opt("trace") == "1"
    val rng = new scala.util.Random(opt("seed").toLong)
    val tracer = new Tracer(spark)
    val sc = spark.sparkContext
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val runStartMs = System.currentTimeMillis()

    def runPass(index: Int, traced: Boolean): PassRun = {
      if (traced) tracer.attach() else tracer.detach()
      val order = rng.shuffle(keys)
      val before = Snap.take()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val runs = order.zipWithIndex.map { case ((key, module, fn), i) =>
        val group = s"graftbench-$index-$i"
        sc.setJobGroup(group, s"pass $index key $key", interruptOnCancel = false)
        val kStart = System.currentTimeMillis()
        val k0 = System.nanoTime()
        var k1 = k0
        var k2 = k0
        val error =
          try {
            val df = fn(spark, input)
            k1 = System.nanoTime()
            df.write.mode("overwrite").format("noop").save()
            k2 = System.nanoTime()
            None
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[perfbench] pass $index key $key failed: $e")
              Some(String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(e.toString))
          } finally sc.clearJobGroup()
        if (error.isDefined) { k1 = System.nanoTime(); k2 = k1 }
        Caches.clear()
        val k3 = System.nanoTime()
        KeyRun(index, key, module, group, kStart, System.currentTimeMillis(),
          k1 - k0, k2 - k1, k3 - k2, error)
      }
      val wallNs = System.nanoTime() - t0
      PassRun(index, traced, startMs, System.currentTimeMillis(), wallNs, runs, before, Snap.take())
    }

    passes += runPass(0, traced = traceOn)
    tracer.detach()
    val verifyStartMs = System.currentTimeMillis()
    val verifyErrors = verifyPass(spark, keys.map(k => (k._1, k._3)), input, out.resolve("verify"))
    val verifyEndMs = System.currentTimeMillis()
    val verifyS = (verifyEndMs - verifyStartMs) / 1000.0
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.exists(_._1 == k) }
    Files.writeString(out.resolve("oracle_sql.json"), json.writeValueAsString(oracle))

    val warmMin = if (traceOn) 4 else 3
    var warmWallS = 0.0
    while (passes.size - 1 < warmMin || warmWallS < seconds) {
      val p = runPass(passes.size, traced = traceOn && passes.size % 2 == 1)
      warmWallS += p.wallS
      passes += p
    }
    tracer.detach()
    val peakRssMb = Snap.statusKb("VmHWM") / 1024.0
    val runEndMs = System.currentTimeMillis()

    val warm = passes.filterNot(_.cold).toSeq
    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "setup_phases" -> setupPhases,
      "cold_pass_s" -> passes.head.wallS,
      "warm_pass_s" -> median(warm.map(_.wallS)),
      "warm_cpu_s" -> median(warm.map(p => (p.after.cpuNs - p.before.cpuNs) / 1e9)),
      "peak_rss_mb" -> peakRssMb,
      "warm_passes" -> warm.size,
      "key_runs" -> passes.map(_.keys.size).sum,
      "key_failures" -> passes.flatMap(_.keys).filter(_.error.isDefined).map(k =>
        Map("pass" -> k.pass, "key" -> k.key, "error" -> k.error.get)),
      "verify_errors" -> verifyErrors,
      "verify_s" -> verifyS,
      "substrate_built_s" -> Substrate.builtKinds,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS,
        "cpu_s" -> (p.after.cpuNs - p.before.cpuNs) / 1e9,
        "keys" -> p.keys.map(k => Map("key" -> k.key, "plan_s" -> k.planNs / 1e9,
          "exec_s" -> k.execNs / 1e9, "clear_s" -> k.clearNs / 1e9)))))
    if (traceOn) {
      val report = new Layers(passes.toSeq, tracer, cores,
        Paths.get(sys.props("java.io.tmpdir")).resolve("graft-substrate"),
        (verifyStartMs, verifyEndMs))
      result("layers") = report.metrics
      result("spans_self_s") = report.selfTimes(runStartMs, runEndMs)
      Files.writeString(out.resolve("spans.json"),
        json.writeValueAsString(report.spans(runStartMs, runEndMs)))
    }
    Files.writeString(out.resolve("result.json"), json.writeValueAsString(result))
    spark.stop()
  }

  /** Untimed: each key once more, its output written as one parquet dir. */
  private def verifyPass(spark: SparkSession,
                         keys: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
                         input: String, dir: Path): Map[String, String] = {
    val errors = mutable.LinkedHashMap.empty[String, String]
    keys.foreach { case (key, fn) =>
      try fn(spark, input).coalesce(1).write.mode("overwrite").parquet(dir.resolve(key).toString)
      catch { case NonFatal(e) => errors(key) = String.valueOf(e.getMessage).take(300) }
      Caches.clear()
    }
    errors.toMap
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Process-wide counters read on the driver thread at pass boundaries. */
final case class Snap(cpuNs: Long, gcMs: Long, jitMs: Long, compiles: Long, compileNs: Long,
                      modelFits: Int, substrateBuildS: Double, substrateReads: Long,
                      substrateKinds: Map[String, Double], readB: Long, writeB: Long,
                      stealTicks: Long, throttledUs: Long, codeCacheMb: Double)

object Snap {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def take(): Snap = {
    val io = procFields("/proc/self/io")
    Snap(
      os.getProcessCpuTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime,
      Caches.modelMissCount,
      Substrate.buildSeconds,
      Substrate.accessCount,
      Substrate.builtKinds,
      io.getOrElse("rchar", 0L),
      io.getOrElse("wchar", 0L),
      stealTicks,
      procFields("/sys/fs/cgroup/cpu.stat").getOrElse("throttled_usec", 0L),
      codeCacheMb)
  }

  private def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** `/proc/self/status` field in kB (VmHWM, VmRSS). */
  def statusKb(field: String): Long =
    readLines("/proc/self/status").find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Host-wide steal ticks (USER_HZ) from the aggregate `cpu` line. */
  private def stealTicks: Long =
    readLines("/proc/stat").find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(0L)

  private def procFields(path: String): Map[String, Long] =
    readLines(path).flatMap { l =>
      l.split("[:\\s]+") match {
        case Array(k, v) if v.forall(_.isDigit) && v.nonEmpty => Some(k -> v.toLong)
        case _ => None
      }
    }.toMap

  private def readLines(path: String): Seq[String] =
    try Files.readAllLines(Paths.get(path)).asScala.toSeq
    catch { case NonFatal(_) => Seq.empty }
}
