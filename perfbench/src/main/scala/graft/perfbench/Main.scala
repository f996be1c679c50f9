package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.sources.Snapshots

/** Drives one workload in one JVM and writes its raw measurements as
  * JSON; `perfbench/run.py` builds, launches, checks and reports.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *        --work DIR --out FILE [--inject-failure CALL]
  *
  * Order of a run: set up the workload's state `SetupRepeats` times
  * (each a wipe, a fresh seeded input set and the workload's own
  * state); the check pass, which also warms the JVM; then either
  * whole timed passes until `--seconds` have elapsed, or, with
  * `--trace 1`, a traced pass between two untraced ones. A stateful workload
  * has no check pass, and sets up again before every pass after the
  * first.
  */
object Main {
  val SetupRepeats = 3
  /** Input scale of every workload. At sf 0.01 one run of either
    * workload takes about a minute on 4 cores, which is what the
    * benchmark's time budget allows; at the reference sf 0.1 a pass
    * alone takes longer. */
  val Sf = 0.01

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(a("workload"))
    val (seed, seconds, trace, cpus) =
      (a("seed").toLong, a("seconds").toDouble, a("trace") == "1", a("cpus").toInt)
    val work = a("work")

    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmReadyS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(spark, seed, work, a.get("inject-failure"))

    val presentBefore = Seq("data", "roots").flatMap { d =>
      val p = Paths.get(s"$work/$d")
      if (!Files.isDirectory(p)) Nil
      else Files.list(p).iterator().asScala.map(x => s"$d/${x.getFileName}").toSeq.sorted
    }
    val setupS = mutable.ArrayBuffer.empty[Double]
    def freshState(): Unit = {
      val t0 = System.nanoTime()
      Seq("data", "roots").foreach(d => Snapshots.deleteRecursively(Paths.get(s"$work/$d")))
      new Inputs(spark, seed, Sf).write(ctx.dataDir, workload.tables)
      workload.setup(ctx)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    (1 to (if (trace) 1 else SetupRepeats)).foreach(_ => freshState())
    val t0 = System.nanoTime()
    val checkCalls = workload.check(ctx)
    val checkS = (System.nanoTime() - t0) / 1e9

    val passes = mutable.ArrayBuffer.empty[Seq[CallResult]]
    def runPass(): Double = {
      if (workload.statefulPass && passes.nonEmpty) freshState()
      val t = System.nanoTime()
      passes += workload.pass(ctx, passes.size)
      (System.nanoTime() - t) / 1e9
    }
    var traceOut = "null"
    if (!trace) {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      do runPass() while (System.nanoTime() < deadline)
    } else {
      // the traced pass sits between two untraced ones, so warm-up
      // during the run does not count as tracing overhead
      val plainS = Seq.newBuilder[Double]
      plainS += runPass()
      if (workload.statefulPass) freshState()
      val tracer = new Tracer(spark)
      ctx.tracer = Some(tracer)
      tracer.install()
      val t = System.nanoTime()
      tracer.span("run", "run") {
        tracer.span(workload.name, "workload") {
          tracer.span("pass", "pass")(passes += workload.pass(ctx, passes.size))
        }
      }
      val tracedS = (System.nanoTime() - t) / 1e9
      val workloadLayers = workload.layers
      tracer.drain()
      tracer.uninstall()
      ctx.tracer = None
      plainS += runPass()
      traceOut = Layers.json(tracer, workloadLayers, cpus, plainS.result(), tracedS)
    }

    // heap the run retains: the least used heap over a few full
    // collections, once every cached block is released
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    val heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val calls = checkCalls.map(-1 -> _) ++ passes.zipWithIndex.flatMap { case (cs, i) => cs.map(i -> _) }
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload.name),
      "seed" -> seed.toString,
      "sf" -> Json.num(Sf),
      "cpus" -> cpus.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_local_dir" -> Json.str(spark.conf.get("spark.local.dir")),
      "present_before_wipe" -> Json.arr(presentBefore.map(Json.str)),
      "jvm_ready_s" -> Json.num(jvmReadyS),
      "setup_s" -> Json.arr(setupS.toSeq.map(Json.num)),
      "check_s" -> Json.num(checkS),
      "heap_retained_mb" -> Json.num(heapMb),
      "figures" -> Json.obj(workload.figures.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }),
      "calls" -> Json.arr(calls.map { case (p, c) => Json.obj(Seq(
        "pass" -> p.toString, "name" -> Json.str(c.name), "kind" -> Json.str(c.kind),
        "s" -> Json.num(c.seconds), "error" -> c.error.fold("null")(Json.str))) }),
      "trace" -> traceOut))
    Files.writeString(Paths.get(a("out")), json)
    spark.stop()
  }
}

/** Per-layer figures of the traced pass, and its span tree. */
object Layers {
  def json(tr: Tracer, workloadLayers: Map[String, Double], cpus: Int, plainS: Seq[Double],
      tracedS: Double): String = {
    val (totals, byTime, orphan) = tr.attribute()
    val spans = tr.allSpans
    val phases = spans.filter(_.kind == "phase")
    def jobsOf(id: Int): Long = totals.get(id).map(_.jobs).getOrElse(0L)
    def phaseS(name: String) = phases.filter(_.name == name).map(_.durS).sum
    def phaseJobs(name: String) = phases.filter(_.name == name).map(s => jobsOf(s.id)).sum
    val calls = spans.filter(_.kind == "call")
    val callPhases = phases.groupBy(_.parent)
    val census = calls.map { c =>
      val ps = callPhases.getOrElse(c.id, Seq.empty)
      def j(n: String) = ps.filter(_.name == n).map(p => jobsOf(p.id)).sum
      def s(n: String) = ps.filter(_.name == n).map(_.durS).sum
      Json.obj(Seq("call" -> Json.str(c.name), "build_jobs" -> j("build").toString,
        "exec_jobs" -> j("execute").toString, "jobs" -> ps.map(p => jobsOf(p.id)).sum.toString,
        "build_s" -> Json.num(s("build")), "plan_s" -> Json.num(s("plan")),
        "exec_s" -> Json.num(s("execute")), "s" -> Json.num(c.durS)))
    }
    val all = new SparkTotals
    totals.values.foreach(all.merge)
    val pass = spans.find(_.kind == "pass").get
    val eager = calls.filter(c => callPhases.getOrElse(c.id, Seq.empty)
      .exists(p => p.name == "build" && jobsOf(p.id) > 0)).map(_.name)
    val layers = Seq(
      "queries.build_s" -> phaseS("build"),
      "queries.build_jobs" -> phaseJobs("build").toDouble,
      "queries.eager_queries" -> eager.size.toDouble,
      "queries.plan_s" -> phaseS("plan"),
      "queries.exec_s" -> phaseS("execute"),
      "queries.exec_jobs" -> phaseJobs("execute").toDouble,
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.exec_util" -> all.runMs / 1e3 / (pass.durS * cpus),
      "spark.task_s" -> all.runMs / 1e3,
      "spark.shuffle_read_bytes" -> all.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
      "spark.spill_bytes" -> all.spill.toDouble,
      "spark.gc_s" -> all.gcMs / 1e3,
      "spark.task_skew" ->
        (if (all.medianTaskMsSum == 0) 0.0 else all.maxTaskMsSum.toDouble / all.medianTaskMsSum),
      "spark.input_bytes" -> all.input.toDouble,
      "spark.failed_tasks" -> all.failedTasks.toDouble,
      "spark.jobs_by_time" -> byTime.toDouble,
      "spark.jobs_unattributed" -> orphan.toDouble,
      "sources.manifest_reads" -> pass.counters("manifest_reads"),
      "sources.commits" -> pass.counters("commits"),
      "sources.stage_moves" -> pass.counters("stage_moves"),
      "sources.lock_wait_s" -> pass.counters("lock_wait_ns") / 1e9,
      "sources.lock_held_s" -> pass.counters("lock_held_ns") / 1e9,
      "sources.bytes_written" -> tr.writes.bytes.get.toDouble,
      "sources.files_written" -> tr.writes.files.get.toDouble,
      "sources.bytes_on_disk" -> 0.0,
      "sources.files_read_frac" -> 0.0,
      "pipelines.absorb_s" -> phaseS("absorb"),
      "pipelines.lookup_s" -> phaseS("lookup"),
      "pipelines.nightly_s" -> phaseS("nightly"),
      "pipelines.forget_s" -> phaseS("forget"),
      "pipelines.replay_s" -> phaseS("replay"),
      "pipelines.kept_frac" -> 0.0,
      "pipelines.chains_compacted" -> 0.0,
      "pipelines.versions_vacuumed" -> 0.0,
      "trace.overhead_frac" -> (tracedS / (plainS.sum / plainS.size) - 1),
    ).toMap ++ workloadLayers
    val spanJson = spans.map { s =>
      val t = totals.get(s.id)
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind), "start_ms" -> s.startMs.toString,
        "dur_s" -> Json.num(s.durS), "jobs" -> t.map(_.jobs).getOrElse(0L).toString,
        "tasks" -> t.map(_.tasks).getOrElse(0L).toString,
        "task_s" -> Json.num(t.map(_.runMs).getOrElse(0L) / 1e3)) ++
        s.counters.toSeq.map { case (k, v) => k -> Json.num(v) })
    }
    Json.obj(Seq(
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "untraced_pass_s" -> Json.arr(plainS.map(Json.num)),
      "traced_pass_s" -> Json.num(tracedS),
      "eager_calls" -> Json.arr(eager.map(Json.str)),
      "census" -> Json.arr(census),
      "spans" -> Json.arr(spanJson)))
  }
}
