package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graftbench.Harness.{KeyRun, PassRun}

/** Per-layer attribution of a traced run. Each listener event is placed
  * in the key that caused it: jobs by the job group the harness sets
  * around every key, stages through their job, and SQL executions and
  * streaming batches (whose threads carry no harness job group) by the
  * key window their start time falls in. Warm-pass metrics are means over
  * the traced warm passes; `.cold` metrics are the cold pass alone.
  */
final class Layers(passes: Seq[PassRun], t: Tracer, cores: Int, substrateDir: Path,
                   verifyWindow: (Long, Long)) {
  import Tracer._

  private val keyRuns = passes.flatMap(_.keys)
  private val byGroup = keyRuns.map(k => k.group -> k).toMap
  private def keyAt(ms: Long): Option[KeyRun] =
    keyRuns.find(k => ms >= k.startMs && ms <= k.endMs)
  private def passOf(k: Option[KeyRun]): Int = k.map(_.pass).getOrElse(-1)

  private val jobKey: Map[Int, KeyRun] = t.jobs.toSeq.flatMap { j =>
    byGroup.get(j.group).orElse(keyAt(j.startMs)).map(j.id -> _)
  }.toMap
  private val stageJob: Map[Int, Int] =
    t.jobs.toSeq.reverse.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
  private def stageKey(s: Stage): Option[KeyRun] =
    stageJob.get(s.id).flatMap(jobKey.get).orElse(keyAt(s.startMs))

  private def perPass(p: PassRun): Map[String, Double] = {
    val in = (ms: Long) => ms >= p.startMs && ms <= p.endMs
    val st = t.stages.toSeq.filter(s => passOf(stageKey(s)) == p.index)
    val js = t.jobs.toSeq.filter(j => passOf(jobKey.get(j.id)) == p.index)
    val qs = t.queries.toSeq.filter(q => in(q.startMs))
    val bs = t.batches.toSeq.filter(b => in(b.startMs))
    val (b, a) = (p.before, p.after)
    val runS = st.map(_.runMs).sum / 1e3
    val cpuS = st.map(_.cpuNs).sum / 1e9
    val busyS = union(st.map(s => (s.startMs max p.startMs, s.endMs min p.endMs))) / 1e3
    val rowsOut = qs.map(_.rowsOut).sum.toDouble
    val joinRows = qs.map(_.joinRows).sum.toDouble
    val rebuilt = a.substrateKinds.count { case (k, s) => s > b.substrateKinds.getOrElse(k, 0.0) }
    val modules = p.keys.groupBy(_.module).toSeq.flatMap { case (m, ks) =>
      Seq(s"operators.$m.plan_s" -> ks.map(_.planNs).sum / 1e9,
          s"operators.$m.exec_s" -> ks.map(_.execNs).sum / 1e9)
    }
    Map(
      "pass.wall_s" -> p.wallS,
      "operators.plan_s" -> p.keys.map(_.planNs).sum / 1e9,
      "operators.exec_s" -> p.keys.map(_.execNs).sum / 1e9,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> cpuS,
      "spark.blocked_frac" -> (if (runS > 0) 1 - cpuS / runS else 0.0),
      "spark.core_util" -> runS / (p.wallS * cores),
      "spark.driver_gap_s" -> (p.wallS - busyS).max(0.0),
      "spark.shuffle_write_mb" -> st.map(_.shuffleWriteB).sum / 1048576.0,
      "spark.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
      "spark.spill_mb" -> st.map(_.spillB).sum / 1048576.0,
      "spark.task_gc_s" -> st.map(_.gcMs).sum / 1e3,
      "catalyst.plan_s" -> qs.map(_.planMs).sum / 1e3,
      "catalyst.scan_rows" -> qs.map(_.scanRows).sum.toDouble,
      "catalyst.join_rows" -> joinRows,
      "catalyst.rows_out" -> rowsOut,
      "catalyst.join_rows_per_result" -> (if (rowsOut > 0) joinRows / rowsOut else 0.0),
      "codegen.compiles" -> (a.compiles - b.compiles).toDouble,
      "codegen.compile_s" -> (a.compileNs - b.compileNs) / 1e9,
      "caches.model_fits" -> (a.modelFits - b.modelFits).toDouble,
      "caches.clear_s" -> p.keys.map(_.clearNs).sum / 1e9,
      "substrate.build_s" -> (a.substrateBuildS - b.substrateBuildS),
      "substrate.builds" -> rebuilt.toDouble,
      "substrate.reads" -> (a.substrateReads - b.substrateReads).toDouble,
      "streaming.batches" -> bs.size.toDouble,
      "streaming.batch_s" -> bs.map(_.batchMs).sum / 1e3,
      "streaming.state_rows" -> bs.map(_.stateRows).maxOption.getOrElse(0L).toDouble,
      "streaming.commit_s" -> bs.map(_.commitMs).sum / 1e3,
      "jvm.gc_s" -> (a.gcMs - b.gcMs) / 1e3,
      "jvm.jit_s" -> (a.jitMs - b.jitMs) / 1e3,
      "host.steal_s" -> (a.stealTicks - b.stealTicks) / 100.0,
      "host.throttled_s" -> (a.throttledUs - b.throttledUs) / 1e6,
      "io.read_mb" -> (a.readB - b.readB) / 1048576.0,
      "io.write_mb" -> (a.writeB - b.writeB) / 1048576.0,
    ) ++ modules
  }

  /** Total length of the union of [start, end] intervals, in ms. */
  private def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = ce max e
    }
    if (ce > cs) total += ce - cs
    total
  }

  def metrics: Map[String, Double] = {
    val cold = perPass(passes.head)
    val traced = passes.tail.filter(_.traced)
    val untraced = passes.tail.filterNot(_.traced)
    val warmRows = traced.map(perPass)
    val warm = warmRows.flatMap(_.keys).distinct
      .map(n => n -> warmRows.map(_.getOrElse(n, 0.0)).sum / warmRows.size).toMap
    val moduleCold = passes.head.keys.groupBy(_.module).map { case (m, ks) =>
      s"operators.$m.cold_s" -> ks.map(k => k.planNs + k.execNs).sum / 1e9
    }
    val tracedWall = Harness.median(traced.map(_.wallS))
    val untracedWall = Harness.median(untraced.map(_.wallS))
    // counters whose metric name says which pass they come from
    val split = Set("codegen.compiles", "codegen.compile_s", "caches.model_fits",
      "substrate.build_s", "substrate.builds", "substrate.reads")
    warm.filterNot { case (n, _) => split(n) } ++ moduleCold ++ Map(
      "operators.cold_s" -> (cold("operators.plan_s") + cold("operators.exec_s")),
      "codegen.compiles.cold" -> cold("codegen.compiles"),
      "codegen.compiles.warm" -> warm("codegen.compiles"),
      "codegen.compile_s.cold" -> cold("codegen.compile_s"),
      "codegen.compile_s.warm" -> warm("codegen.compile_s"),
      "caches.model_fits.cold" -> cold("caches.model_fits"),
      "caches.model_fits.warm" -> warm("caches.model_fits"),
      "substrate.build_s.cold" -> cold("substrate.build_s"),
      "substrate.builds.warm" -> warm("substrate.builds"),
      "substrate.reads.warm" -> warm("substrate.reads"),
      "substrate.disk_mb" -> duMb(substrateDir),
      "io.write_mb.cold" -> cold("io.write_mb"),
      "jvm.code_cache_mb" -> passes.last.after.codeCacheMb,
      "trace.traced_warm_pass_s" -> tracedWall,
      "trace.untraced_warm_pass_s" -> untracedWall,
      "trace.overhead_s" -> (tracedWall - untracedWall),
    )
  }

  private def duMb(dir: Path): Double =
    if (!Files.exists(dir)) 0.0
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1048576.0
      finally s.close()
    }

  /** The span tree: run → {pass → key → {plan, exec, clear} → job → stage,
    * verify}, with job and stage spans from the traced passes only.
    */
  def spans(runStartMs: Long, runEndMs: Long): Seq[Map[String, Any]] = {
    def span(id: String, parent: String, kind: String, name: String,
             start: Double, end: Double) =
      Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
          "start_ms" -> start, "end_ms" -> end)
    val out = mutable.ArrayBuffer(span("run", "", "run", "run", runStartMs, runEndMs),
      span("verify", "run", "verify", "verify", verifyWindow._1, verifyWindow._2))
    passes.foreach { p =>
      val pid = s"p${p.index}"
      out += span(pid, "run", "pass", if (p.cold) "cold" else "warm", p.startMs, p.endMs)
      p.keys.foreach { k =>
        val kid = k.group
        val (plan, exec, clear) = (k.planNs / 1e6, k.execNs / 1e6, k.clearNs / 1e6)
        out += span(kid, pid, "key", k.key, k.startMs, k.endMs)
        out += span(s"$kid/plan", kid, "plan", k.module, k.startMs, k.startMs + plan)
        out += span(s"$kid/exec", kid, "exec", k.module, k.startMs + plan, k.startMs + plan + exec)
        out += span(s"$kid/clear", kid, "clear", k.module, k.startMs + plan + exec,
          k.startMs + plan + exec + clear)
      }
    }
    // a job hangs under the plan or exec span of its key, by start time
    t.jobs.foreach { j =>
      jobKey.get(j.id).foreach { k =>
        val phase = if (j.startMs < k.startMs + k.planNs / 1e6) "plan" else "exec"
        out += span(s"job${j.id}", s"${k.group}/$phase", "job", s"job ${j.id}", j.startMs,
          if (j.endMs > 0) j.endMs else j.startMs)
      }
    }
    t.stages.foreach { s =>
      val parent = stageJob.get(s.id).filter(jobKey.contains).map(j => s"job$j")
      parent.foreach { pj =>
        out += span(s"stage${s.id}", pj, "stage", s"stage ${s.id}", s.startMs, s.endMs)
      }
    }
    out.toSeq
  }

  /** Seconds each span kind spends outside its children, summed per kind. */
  def selfTimes(runStartMs: Long, runEndMs: Long): Map[String, Double] = {
    val all = spans(runStartMs, runEndMs)
    def dur(s: Map[String, Any]) =
      s("end_ms").asInstanceOf[Double] - s("start_ms").asInstanceOf[Double]
    val childMs = all.groupMapReduce(_("parent").asInstanceOf[String])(dur)(_ + _)
    all.groupMapReduce(_("kind").asInstanceOf[String]) { s =>
      (dur(s) - childMs.getOrElse(s("id").asInstanceOf[String], 0.0)).max(0.0) / 1e3
    }(_ + _)
  }
}
