package kgbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/**
 * The measuring program: one workload, one seed, one run.
 *
 *   kgbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C
 *                --work DIR --spec workloads.json --pins pins.json --lib SRC
 *
 * Untraced (--trace 0): set up [[SetupRepeats]] times, each from a fresh
 * session, then run the workload's operation in a closed loop (one client,
 * this thread) for S seconds, check the outputs and print the end-to-end
 * metrics. Traced (--trace 1): set up once, run the workload's layer calls
 * in spans, then alternate untraced and traced operations for S seconds;
 * print the per-layer metrics and write every span and count to
 * DIR/trace-W-seedN.json. The last stdout line is the result JSON.
 */
object Main {

  /** Untimed operations after one untimed set-up, to warm the JIT. */
  val WarmupOperations = 3
  /** Timed set-ups of an untraced run; setup_s is the median of their
    * critical paths. */
  val SetupRepeats = 3

  /** End-to-end metrics (untraced runs), with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_critical_s" -> "1/s", "items_per_cpu_s" -> "1/s",
    "heap_retained_mb" -> "MB", "ok_frac" -> "ratio", "output_ok" -> "bool")

  /** Per-layer metrics (traced runs), with units. A workload that does not
    * reach a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ground.build_s" -> "s", "ground.patterns" -> "count", "ground.broadcast_bytes" -> "B",
    "ground.detect_s" -> "s", "ground.detect_cpu_s" -> "s", "ground.bytes_per_cpu_s" -> "B/s",
    "ground.task_skew" -> "ratio", "ground.mentions" -> "count", "ground.triples" -> "count",
    "ground.empty_turns" -> "count",
    "sources.scan_s" -> "s", "sources.scan_bytes_per_cpu_s" -> "B/s",
    "sources.read_graphs_s" -> "s", "sources.resolve_s" -> "s", "sources.json_reads" -> "ratio",
    "operators.standardize_s" -> "s", "operators.literal_mappings_s" -> "s",
    "operators.literal_mappings_rows" -> "count", "operators.skipped_nodes" -> "count",
    "pipeline.xref_map_s" -> "s", "pipeline.xref_edges" -> "count", "pipeline.xref_branch" -> "bool",
    "pipeline.prepare_s" -> "s", "pipeline.ontology_triples_s" -> "s", "pipeline.run_s" -> "s",
    "pipeline.jobs_per_pass" -> "count", "pipeline.shuffle_bytes_per_pass" -> "B",
    "pipeline.sweep_s" -> "s", "pipeline.bulk_job_s" -> "s",
    "icelite.write_s" -> "s", "icelite.files_written" -> "count", "icelite.bytes_written" -> "B",
    "streaming.process_s" -> "s", "streaming.jobs_per_delta" -> "count",
    "streaming.output_files" -> "count", "streaming.output_bytes" -> "B", "streaming.read_s" -> "s",
    "operators.exact_dedup_s" -> "s", "operators.minhash_survivors_s" -> "s",
    "operators.decontaminate_s" -> "s", "operators.minhash_candidates" -> "count",
    "operators.minhash_pairs" -> "count", "operators.minhash_yield" -> "ratio",
    "operators.hygiene_s" -> "s", "operators.hygiene_jobs" -> "count",
    "operators.guard_dropped_buckets" -> "count",
    "spark.jobs" -> "count/op", "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.executor_cpu_s" -> "s/op", "spark.executor_run_s" -> "s/op", "spark.gc_s" -> "s/op",
    "spark.task_queue_s" -> "s/op", "spark.input_bytes" -> "B/op",
    "spark.shuffle_write_bytes" -> "B/op", "spark.shuffle_read_bytes" -> "B/op",
    "spark.spill_bytes" -> "B/op", "spark.task_failures" -> "count/op",
    "trace.overhead_frac" -> "ratio")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
                        work: Path, spec: Path, pins: Path, lib: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cores").toInt, Paths.get(get("work")), Paths.get(get("spec")), Paths.get(get("pins")),
      Paths.get(get("lib")))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  // ---------------------------------------------------------------------------
  // layers of source files, for call-site attribution
  // ---------------------------------------------------------------------------

  @volatile private var fileLayers: Map[String, String] = Map.empty

  /** The library package a call-site file belongs to (`ground`, `icelite`,
    * ...), `kgbench` for the benchmark's own files, `other` for the rest. */
  def layerOf(file: String): String = fileLayers.getOrElse(file, "other")

  private def scanLayers(lib: Path): Map[String, String] = {
    val root = lib.resolve("graft")
    val s = Files.walk(root)
    val graft = try s.iterator().asScala.filter(_.toString.endsWith(".scala")).map { f =>
      val rel = root.relativize(f)
      f.getFileName.toString -> (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
    }.toMap finally s.close()
    graft ++ Seq("Main.scala", "Workloads.scala", "Gen.scala", "Trace.scala").map(_ -> "kgbench")
  }

  // ---------------------------------------------------------------------------
  // the run
  // ---------------------------------------------------------------------------

  def session(spec: JsonNode, o: Opts): SparkSession = {
    val b = SparkSession.builder()
    spec.path("session").fields().asScala.foreach { e =>
      b.config(e.getKey, e.getValue.asText().replace("${cores}", o.cores.toString))
    }
    b.config(graft.SparkDefaults.ExcludedRulesKey, graft.SparkDefaults.ExcludedRules)
    b.config("spark.local.dir", o.work.resolve("spark-local").toString)
    b.config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Progress on stderr, with the JVM's uptime. */
  def progress(msg: String): Unit =
    System.err.println(f"kgbench [${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%6.1f s] $msg")

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds per live Java thread: the driver, task and Spark
    * service threads. JIT compiler and GC threads are not Java threads, so
    * this leaves out the JVM's own warm-up and collection work. */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Java-thread CPU nanoseconds per thread, and milliseconds the collectors
    * have spent so far. */
  final case class Cpu(threads: Map[Long, Long], gcMs: Long)
  def cpuNow(): Cpu = Cpu(threadCpu(), collectors.map(_.getCollectionTime).filter(_ >= 0).sum)

  /** CPU seconds the Java threads spent since `before` (threads started
    * since count from zero), plus the collectors' time in between. */
  def cpuSince(before: Cpu): Double = {
    val now = cpuNow()
    now.threads.iterator.map { case (id, ns) => ns - before.threads.getOrElse(id, 0L) }.sum / 1e9 +
      (now.gcMs - before.gcMs) / 1e3
  }

  /**
   * Critical-path seconds of an interval that took `cpuS` CPU seconds (as
   * [[cpuSince]] counts them): the CPU outside Spark tasks (the driver side,
   * serial) and the collectors' time, plus, per stage, the longer of its
   * task CPU spread over `cores` and its longest task. Other processes on a
   * shared host stretch wall time by far more than a program change does,
   * but leave this alone; a change that loses parallelism, skews tasks,
   * moves work to the driver or collects more garbage raises it.
   */
  def critical(cpuS: Double, stages: StageCpu, sc: SparkContext, cores: Int): Double = {
    val (taskNs, pathNs) = stages.take(sc, cores)
    cpuS - taskNs / 1e9 + pathNs / 1e9
  }

  /** Driver heap in use after full collections. */
  def heapAfterGcMb(): Double = {
    // the second collection runs after Spark's cleaner has dropped the
    // blocks of objects the first one found unreachable
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(o: Opts): Int = {
    val mapper = new ObjectMapper()
    val spec = mapper.readTree(o.spec.toFile)
    val wspec = spec.path("workloads").path(o.workload)
    require(wspec.isObject, s"workloads.json has no workload ${o.workload}")
    val pin = if (Files.exists(o.pins)) {
      val p = mapper.readTree(o.pins.toFile).path(o.workload).path(o.seed.toString)
      if (p.isArray) Some(p) else None
    } else None
    fileLayers = scanLayers(o.lib)
    val w = Workloads.byName(o.workload)
    // inputs are cached per seed and sizes
    val sizesKey = java.lang.Long.toHexString(Gen.mix(wspec.path("sizes").toString.hashCode.toLong))
    val inputs = o.work.resolve("inputs").resolve(s"${o.workload}-${o.seed}-$sizesKey")
    val out = o.work.resolve("runs").resolve(o.workload)
    Workloads.deleteTree(out)
    Files.createDirectories(out)

    var spark = session(spec, o)
    def ctx = Ctx(spark, inputs, out, o.seed, wspec.path("sizes"), o.cores)
    val in = w.generate(ctx)
    progress("inputs ready")
    // JIT warm-up, untimed: one set-up and a few operations, so that the
    // timed set-ups and operations run on a warm JVM
    val warm = w.setup(ctx, in)
    (0 until WarmupOperations).foreach(warm.op)
    warm.release()
    progress("warm-up done")

    // set-up: each from a fresh session, the medians reported
    val setups = mutable.ArrayBuffer[Double]()
    val setupsCpu = mutable.ArrayBuffer[Double]()
    val setupsCritical = mutable.ArrayBuffer[Double]()
    val heapsMb = mutable.ArrayBuffer[Double]()
    var state: State = null
    val stageCpu = new StageCpu
    for (_ <- 0 until (if (o.trace) 1 else SetupRepeats)) {
      if (state != null) state.release()
      spark.stop()
      // the previous session's garbage is collected before, not during, timing
      System.gc()
      val t0 = System.nanoTime()
      val c0 = cpuNow()
      spark = session(spec, o)
      spark.sparkContext.addSparkListener(stageCpu)
      state = w.setup(ctx, in)
      setups += (System.nanoTime() - t0) / 1e9
      setupsCpu += cpuSince(c0)
      setupsCritical += critical(setupsCpu.last, stageCpu, spark.sparkContext, o.cores)
      // driver heap the set-up retains: the grounder, cached tables, broadcasts
      heapsMb += heapAfterGcMb()
    }
    progress(s"set-up done: ${setups.map(s => f"$s%.2f").mkString(" ")} s wall, " +
      s"${setupsCritical.map(s => f"$s%.2f").mkString(" ")} s critical path, " +
      s"${setupsCpu.map(s => f"$s%.2f").mkString(" ")} s CPU")

    val sc = spark.sparkContext
    val listener = new SpanListener
    val tracer = Tracer.forSpark(s"${o.workload}-${o.seed}-${System.currentTimeMillis()}", sc)
    val layers = new Layers(spark, tracer, listener)
    var listening = false
    // a listener leaves the bus only after every event it was owed arrived
    def listen(on: Boolean): Unit = if (on != listening) {
      if (on) sc.addSparkListener(listener)
      else { org.apache.spark.KgbenchBus.drain(sc); sc.removeSparkListener(listener) }
      listening = on
    }
    if (o.trace) {
      listen(true)
      tracer.span("layers")(state.layers(layers))
    }

    // closed loop, one client: each operation waits for the previous one.
    // A run ends once `seconds` have passed and at least `min_operations`
    // have run. A traced run alternates untraced and traced operations, the
    // listener registered only for the traced ones.
    val untraced = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    val opSpans = mutable.ArrayBuffer[Int]()
    var attempted = 0
    var failed = 0
    val minOps = if (o.trace) 2 else {
      val n = wspec.path("min_operations")
      require(n.isInt && n.asInt() >= 3, s"workloads.json: ${o.workload} needs min_operations >= 3")
      n.asInt()
    }
    val opCpu = mutable.ArrayBuffer[Double]()
    val opCritical = mutable.ArrayBuffer[Double]()
    stageCpu.take(sc, o.cores) // the stages of the traced layer calls
    val start = System.nanoTime()
    var i = 0
    while (failed == 0 && ((System.nanoTime() - start) / 1e9 < o.seconds || i < minOps)) {
      val tracedOp = o.trace && i % 2 == 1
      if (o.trace) listen(tracedOp)
      attempted += 1
      try {
        val c0 = cpuNow()
        if (tracedOp) traced += tracer.span("op") { opSpans += tracer.currentId; state.op(i) }
        else untraced += state.op(i)
        opCpu += cpuSince(c0)
        opCritical += critical(opCpu.last, stageCpu, sc, o.cores)
      } catch {
        case e: Exception =>
          failed += 1
          e.printStackTrace()
      }
      i += 1
    }
    progress(s"$attempted operations done: ${(untraced ++ traced).map(s => f"$s%.3f").mkString(" ")} s")
    progress(s"critical path: ${opCritical.map(s => f"$s%.3f").mkString(" ")} s")

    val checks = new Checks
    checks("no operation failed", failed == 0, s"$failed of $attempted failed")
    if (failed == 0) {
      state.check(checks)
      val got = state.outputSignature
      pin.foreach { p =>
        val want = (p.path(0).asLong(), p.path(1).asLong())
        checks("count and signature equal the values pinned for this seed", want == got, s"pinned $want got $got")
      }
      Files.write(o.work.resolve(s"signature-${o.workload}-seed${o.seed}.json"),
        Json.render(Seq(got._1, got._2)).getBytes("UTF-8"))
    }

    val (opName, itemName) = (w.opName, w.itemName)
    val metrics: Seq[(String, Double)] =
      if (!o.trace) {
        // a run whose first operation failed still reports (and fails)
        def median(xs: mutable.ArrayBuffer[Double]) = if (xs.isEmpty) Double.PositiveInfinity else Stats.median(xs.toSeq)
        val (opMed, cpuMed, criticalMed) = (median(untraced), median(opCpu), median(opCritical))
        val values = Map(
          "setup_s" -> Stats.median(setupsCritical.toSeq),
          "items_per_critical_s" -> state.items / criticalMed,
          "items_per_cpu_s" -> state.items / cpuMed,
          "heap_retained_mb" -> Stats.median(heapsMb.toSeq),
          "ok_frac" -> (attempted - failed).toDouble / attempted,
          "output_ok" -> (if (checks.ok) 1.0 else 0.0))
        val tail = Stats.tail(untraced.toSeq)
        println(f"kgbench ${o.workload} seed=${o.seed} cores=${o.cores}: ${untraced.size} operations" +
          f" in ${(System.nanoTime() - start) / 1e9}%.1f s, ${setups.size} set-ups, ${state.items}%.0f $itemName per operation")
        println(f"  setup_s = ${values("setup_s")}%.4f s critical path (median of ${setups.size}; " +
          f"${Stats.median(setups.toSeq)}%.4f s wall, ${Stats.median(setupsCpu.toSeq)}%.4f CPU s)")
        println(f"  $opName = $opMed%.4f s wall (median of ${untraced.size})" +
          tail.fold(" (too few samples for a tail)")(t => f", p${t.p} = ${t.value}%.4f s"))
        println(f"  ${itemName}_per_s = ${state.items / opMed}%.1f per wall second")
        println(f"  items_per_critical_s = ${values("items_per_critical_s")}%.1f $itemName per critical-path second ($criticalMed%.3f s per operation)")
        println(f"  items_per_cpu_s = ${values("items_per_cpu_s")}%.1f $itemName per CPU second ($cpuMed%.3f CPU s per operation)")
        println(f"  heap_retained_mb = ${values("heap_retained_mb")}%.1f MB (median of ${heapsMb.size}), " +
          f"ok_frac = ${values("ok_frac")}, output_ok = ${values("output_ok")}")
        state.report.foreach { case (k, v) => println(s"  $k = ${Json.render(v)}") }
        EndToEnd.map { case (n, _) => n -> values(n) }
      } else {
        spark.sparkContext.setLocalProperty(Tracer.SpanProperty, null)
        val opJobs = opSpans.flatMap(id => listener.jobsIn(sc, tracer.subtree(id))).toSeq
        val n = math.max(1, opSpans.size).toDouble
        val ran = opJobs.flatMap(_.stages).distinct.count(listener.stageTaskMs.contains)
        layers("spark.jobs") = opJobs.size / n
        layers("spark.stages") = ran / n
        layers("spark.tasks") = opJobs.map(_.tasks).sum / n
        layers("spark.executor_cpu_s") = opJobs.map(_.cpuNs).sum / 1e9 / n
        layers("spark.executor_run_s") = opJobs.map(_.runMs).sum / 1e3 / n
        layers("spark.gc_s") = opJobs.map(_.gcMs).sum / 1e3 / n
        layers("spark.task_queue_s") = opJobs.map(_.queueMs).sum / 1e3 / n
        layers("spark.input_bytes") = opJobs.map(_.inputBytes).sum / n
        layers("spark.shuffle_write_bytes") = opJobs.map(_.shuffleWrite).sum / n
        layers("spark.shuffle_read_bytes") = opJobs.map(_.shuffleRead).sum / n
        layers("spark.spill_bytes") = opJobs.map(_.spill).sum / n
        layers("spark.task_failures") = opJobs.map(_.failures).sum / n
        layers("trace.overhead_frac") = Stats.median(traced.toSeq) / Stats.median(untraced.toSeq) - 1
        val unknown = layers.values.keySet -- PerLayer.map(_._1) - "kgbench.planted_skipped_nodes"
        require(unknown.isEmpty, s"layer metrics missing from Main.PerLayer: $unknown")
        val planted = layers.values.get("kgbench.planted_skipped_nodes")
        planted.foreach(p => checks("lenient skips equal the generator's planted count",
          layers.values.get("operators.skipped_nodes").contains(p),
          s"skipped ${layers.values.get("operators.skipped_nodes")} planted $p"))
        val file = o.work.resolve(s"trace-${o.workload}-seed${o.seed}.json")
        Files.write(file, traceJson(o, tracer, listener, layers, traced.toSeq, untraced.toSeq, state, checks)
          .getBytes("UTF-8"))
        println(s"kgbench ${o.workload} seed=${o.seed}: trace written to $file")
        PerLayer.map { case (n, _) => n -> layers.values.getOrElse(n, 0.0) }
      }
    state.release()
    spark.stop()
    progress("session stopped")
    checks.results.foreach { case (name, ok, detail) =>
      System.err.println(s"kgbench check ${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else ": " + detail}")
    }

    val units = (EndToEnd ++ PerLayer).toMap
    val result = Json.obj(
      "correct" -> checks.ok,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v) => n -> Json.obj("value" -> v, "unit" -> units(n)) }: _*))
    println(Json.render(result))
    if (checks.ok) 0 else 1
  }

  private def traceJson(o: Opts, tracer: Tracer, listener: SpanListener, layers: Layers,
                        traced: Seq[Double], untraced: Seq[Double], state: State,
                        checks: Checks): String = {
    val sc = layers.spark.sparkContext
    val jobs = listener.allJobs(sc).groupBy(_.span)
    val spans = tracer.all.map { s =>
      val own = jobs.getOrElse(s.id, Nil)
      val byFile = own.groupBy(j => if (j.file.isEmpty) "unknown" else j.file).toSeq.sortBy(_._1).map {
        case (f, js) => f -> Json.obj("layer" -> layerOf(f), "jobs" -> js.size,
          "job_s" -> js.map(_.seconds).sum, "cpu_s" -> js.map(_.cpuNs).sum / 1e9,
          "input_bytes" -> js.map(_.inputBytes).sum, "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum)
      }
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> tracer.runId,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "self_s" -> tracer.selfSeconds(s.id),
        "jobs" -> own.size, "tasks" -> own.map(_.tasks).sum,
        "cpu_s" -> own.map(_.cpuNs).sum / 1e9, "queue_s" -> own.map(_.queueMs).sum / 1e3,
        "skew" -> listener.skew(own), "by_call_site" -> Json.obj(byFile: _*))
    }
    Json.render(Json.obj(
      "run_id" -> tracer.runId, "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "clients" -> 1,
      "metrics" -> Json.obj(PerLayer.map { case (n, u) =>
        n -> Json.obj("value" -> layers.values.getOrElse(n, 0.0), "unit" -> u) }: _*),
      "op_s" -> Json.obj("traced" -> traced, "untraced" -> untraced),
      "report" -> Json.obj(state.report: _*),
      "checks" -> checks.results.map { case (n, ok, d) => Json.obj("check" -> n, "ok" -> ok, "detail" -> d) },
      "spans" -> spans))
  }
}
