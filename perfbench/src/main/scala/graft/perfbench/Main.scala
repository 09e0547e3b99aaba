package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, pretty, render}

/** The repository benchmark. One JVM, one `local[nproc - 1]` Spark session,
  * one workload run as a closed loop with one client for `--seconds`.
  *
  * {{{
  *   graft.perfbench.Main --workload crop_tile --seed 1 --seconds 20 --trace 0
  *     --work <dir> [--commit <sha>]
  * }}}
  *
  * Prints each metric as `name = value unit`, writes the full record to
  * `<work>/records/`, and ends standard output with one JSON line:
  * {"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones
  * (rounds alternate traced and untraced, and the gap in points/s
  * between the two is the tracing overhead). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, commit: String)

  private val SetupRepeats = 3

  /** End-to-end metrics in the final line (with `--trace 0`). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "points_per_s" -> "1/s", "op_p50_s" -> "s", "heap_live_mb" -> "MB")

  /** Per-layer metrics in the final line (with `--trace 1`); every
    * workload reports all of them. Workload-specific layer counters go
    * to the record only. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.plan_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.driver_only_ms" -> "ms", "spark.busy_frac" -> "ratio",
    "spark.exec_run_ms" -> "ms", "spark.exec_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.sched_wait_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.result_bytes" -> "bytes", "spark.task_failures" -> "count",
    "functions.payload_parse_pts_s" -> "1/s", "index.cell_id_pts_s" -> "1/s",
    "index.contains_pts_s" -> "1/s", "index.cover_per_s" -> "1/s",
    "sources.laz_encode_pts_s" -> "1/s", "sources.laz_decode_pts_s" -> "1/s",
    "sources.laz_chunk_decode_pts_s" -> "1/s", "sources.laz14_decode_pts_s" -> "1/s",
    "sources.laz14_chunk_decode_pts_s" -> "1/s", "sources.bpf_decode_pts_s" -> "1/s",
    "model.explode_pts_s" -> "1/s", "trace.overhead_frac" -> "ratio")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = req("workload")
    require(Workload.Names.contains(w), s"unknown workload $w (one of ${Workload.Names.mkString(", ")})")
    val secs = req("seconds").toInt
    require(secs >= 1, "--seconds must be at least 1")
    Args(w, req("seed").toLong, secs, req("trace") == "1", req("work"), m.getOrElse("commit", "unknown"))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  final case class OpRec(i: Int, kind: String, traced: Boolean, seconds: Double, ok: Boolean,
                         points: Long, docs: Long, digest: String, error: Option[String],
                         extras: Map[String, Double], probe: Map[String, Double],
                         parts: Map[String, Double] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch { case e: IllegalArgumentException =>
      System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val code = try run(a) catch { case NonFatal(e) =>
      System.err.println(s"perfbench: run failed: $e"); e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  def run(a: Args): Int = {
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work.resolve("records"))
    val nproc = Runtime.getRuntime.availableProcessors()
    // one core is left to the client thread (planning, code generation,
    // checks), the collector and the JIT, so task threads do not queue
    // behind them on a small host
    val cores = math.max(1, nproc - 1)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "5000000")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // keep little job/stage/query history: it otherwise grows with the
      // number of ops a run completes and would dominate heap_live_mb
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // first-use costs (codegen, shuffle, parquet) land in the first
      // set-up, which the median over set-ups leaves out
      val sessionS = (System.nanoTime() - t0) / 1e9

      val tr = new Tracer(spark.sparkContext)
      if (a.trace) {
        spark.sparkContext.addSparkListener(tr.sparkListener)
        spark.listenerManager.register(tr.queryListener)
      }
      val w = Workload(a.workload, spark, tr, a.seed, work.toString)

      // set-up several times, each into a fresh directory; the last stays
      val setups = (0 until SetupRepeats).map { r =>
        if (r > 0) Workload.deleteTree(work.resolve(s"input-${r - 1}"))
        val dir = work.resolve(s"input-$r")
        Workload.deleteTree(dir)
        val (parts, s) = Workload.timed(w.setup(dir.toString))
        parts + ("total_s" -> s)
      }

      // warm-up: untimed, checked, reported on its own
      val warm = (0 until w.warmupOps).map(i => runOp(w, tr, i, traced = false))
      val warmS = warm.map(_.seconds).sum
      val setupS = sessionS + median(setups.map(_("total_s"))) + warmS

      // live heap: used heap after full GCs, read once after the timed
      // phase (outside op times). Dropped local checkpoints stay in memory
      // until Spark's cleaner thread gets to them, some time after a GC,
      // so GC again until a GC frees no more RDD blocks; otherwise the
      // reading depends on that thread's timing.
      def liveHeapMb: Double = {
        var blocks = Int.MaxValue; var k = 0
        while (k < 20 && {
          System.gc(); Thread.sleep(500)
          val b = org.apache.spark.perfbench.RddBlocks(); val freed = b < blocks; blocks = b; freed
        }) k += 1
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }

      // timed phase: whole rounds until `seconds` have passed; a traced
      // run alternates traced and untraced rounds and needs one of each
      val minRounds = if (a.trace) 2 else 1
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
      var i = 0
      while (System.nanoTime() < deadline || i % w.roundSize != 0 || i < minRounds * w.roundSize) {
        val traced = a.trace && (i / w.roundSize) % 2 == 0
        ops += runOp(w, tr, i, traced)
        i += 1
      }
      val heapLiveMb = liveHeapMb
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

      val attempted = ops.size
      val failed = ops.count(!_.ok)
      val good = ops.filter(_.ok)
      def pps(rs: Iterable[OpRec]) = rs.map(_.points).sum / rs.map(_.seconds).sum
      val timedOps = if (a.trace) good.filterNot(_.traced) else good
      val times = timedOps.map(_.seconds).sorted
      val n = times.size
      // the highest percentile with at least ten samples beyond it; none
      // exists below eleven ops
      val tail = if (n >= 11) Some((times(n - 11), 100.0 * (n - 10) / n)) else None
      val extras = good.flatMap(o => o.extras.keys ++ o.parts.keys).distinct
        .map(k => k -> median(good.flatMap(o => o.extras.get(k).orElse(o.parts.get(k))).toSeq)).toMap
      val e2e: Map[String, Double] = Map(
        "setup_s" -> setupS,
        // median over rounds: one slow round moves it less than a total would
        "points_per_s" -> median(timedOps.groupBy(_.i / w.roundSize).values.map(pps).toSeq),
        "op_p50_s" -> median(times.toSeq),
        "heap_live_mb" -> heapLiveMb,
        "ops_failed_frac" -> failed.toDouble / math.max(1, attempted)) ++
        tail.map(t => "op_tail_s" -> t._1).toMap ++
        (if (a.workload == "crop_tile") Map("docs_per_s" -> timedOps.map(_.docs).sum / timedOps.map(_.seconds).sum)
         else Map.empty) ++ extras

      val kernels = if (a.trace) Kernels.run(spark, a.seed, work.toString) else Map.empty[String, Double]
      val layers: Map[String, Double] =
        if (!a.trace) Map.empty
        else {
          val tracedOps = good.filter(_.traced)
          val untraced = good.filterNot(_.traced)
          val probes = tracedOps.flatMap(_.probe.keys).distinct
            .map(k => k -> median(tracedOps.flatMap(_.probe.get(k)).toSeq)).toMap
          layerMetrics(tr, tracedOps.map(_.i).toSet, cores) ++ kernels ++ probes +
            ("trace.overhead_frac" -> (if (tracedOps.isEmpty || untraced.isEmpty) 0.0
                                       else 1.0 - pps(tracedOps) / pps(untraced)))
        }

      val warmFailed = warm.count(!_.ok)
      val correct = failed == 0 && warmFailed == 0
      val shown = if (a.trace) PerLayer else EndToEnd
      val values = if (a.trace) layers else e2e
      val units = (EndToEnd ++ PerLayer).toMap
      // everything measured, by name, with units where they are fixed
      (e2e ++ layers).toSeq.sortBy(_._1).foreach { case (k, v) =>
        println(f"$k%-36s = $v%.6g ${units.getOrElse(k, "")}".trim)
      }
      println(tail.fold(s"op_tail_s: no percentile has ten samples beyond it in $n timed ops")(
        t => s"op_tail_s is the p${"%.1f".format(t._2)} of $n timed ops"))
      ops.filter(!_.ok).foreach(o => println(s"FAILED op ${o.i} (${o.kind}): ${o.error.getOrElse("")}"))
      warm.filter(!_.ok).foreach(o => println(s"FAILED warm-up op ${o.i} (${o.kind}): ${o.error.getOrElse("")}"))

      val recordPath = work.resolve("records")
        .resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
      val record = JObject(
        "workload" -> JString(a.workload), "seed" -> JLong(a.seed), "seconds" -> JInt(a.seconds),
        "trace" -> JBool(a.trace), "commit" -> JString(a.commit), "nproc" -> JInt(nproc), "spark_cores" -> JInt(cores),
        "heap_max_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0),
        "jdk" -> JString(s"${System.getProperty("java.version")} ${System.getProperty("java.vm.name")}"),
        "spark" -> JString(spark.version), "scala" -> JString(util.Properties.versionNumberString),
        "correct" -> JBool(correct), "attempted" -> JInt(attempted), "failed" -> JInt(failed),
        "op_count" -> JInt(n), "op_tail_percentile" -> tail.fold[JValue](JNull)(t => JDouble(t._2)),
        "setup" -> JObject("session_s" -> JDouble(sessionS),
          "repeats" -> JArray(setups.map(s => JObject(s.toList.sorted.map { case (k, v) => k -> JDouble(v) })).toList),
          "warmup_s" -> JDouble(warmS)),
        "warmup" -> JObject("ops" -> JInt(warm.size), "failed" -> JInt(warmFailed)),
        "end_to_end" -> obj(e2e),
        "per_layer" -> obj(layers),
        "digests" -> JObject(ops.filter(_.ok).map(o => o.i.toString -> JString(o.digest)).toList),
        "ops" -> JArray(ops.map(o => JObject("i" -> JInt(o.i), "kind" -> JString(o.kind),
          "traced" -> JBool(o.traced), "seconds" -> JDouble(o.seconds), "ok" -> JBool(o.ok),
          "digest" -> JString(o.digest), "error" -> o.error.map(JString(_)).getOrElse(JNull))).toList),
        "spans" -> (if (a.trace) spanTree(tr) else JArray(Nil)))
      Files.writeString(recordPath, pretty(render(record)))
      println(s"record: $recordPath")

      val line = JObject(
        "correct" -> JBool(correct), "attempted" -> JInt(attempted), "failed" -> JInt(failed),
        "metrics" -> JObject(shown.map { case (k, u) =>
          k -> JObject("value" -> JDouble(values.getOrElse(k, Double.NaN)), "unit" -> JString(u))
        }.toList))
      println(compact(render(line)))
      0
    } finally spark.stop()
  }

  private def obj(m: Map[String, Double]): JObject =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })

  /** Runs op `i`, then (untimed) its check, probes when traced, and
    * clean-up. An exception or a failed check makes the op failed; a
    * failed op never contributes a time. */
  private def runOp(w: Workload, tr: Tracer, i: Int, traced: Boolean): OpRec = {
    tr.enabled = traced
    val t = System.nanoTime()
    val out = try Right(tr.op(i, "op")(w.op(i))) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t) / 1e9
    val rec = out match {
      case Left(e) =>
        OpRec(i, "?", traced, secs, ok = false, 0, 0, "", Some(s"threw $e"), Map.empty, Map.empty)
      case Right(o) =>
        try {
          val v = tr.within(i)(o.verify())
          val probe = if (traced) tr.within(i)(o.probe()) else Map.empty[String, Double]
          OpRec(i, o.kind, traced, secs, v.error.isEmpty, o.points, o.docs, v.digest, v.error,
            v.extras, probe, o.parts)
        } catch { case NonFatal(e) =>
          OpRec(i, o.kind, traced, secs, ok = false, o.points, o.docs, "", Some(s"check threw $e"),
            Map.empty, Map.empty)
        } finally o.cleanup()
    }
    tr.enabled = false
    rec
  }

  /** Spark and module metrics per traced op (means over traced ops). */
  private def layerMetrics(tr: Tracer, tracedOps: Set[Int], cores: Int): Map[String, Double] = {
    val spans = tr.spans.toIndexedSeq
    val roots = spans.filter(s => s.parent < 0 && s.module == "bench" && tracedOps.contains(s.op))
    if (roots.isEmpty) return Map.empty
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val total = new SparkCounters
    var driverOnlyNs = 0L; var wallNs = 0L; var planMs = 0L
    roots.foreach { r =>
      val ids = subtree(r).map(_.id).toSet
      ids.foreach(id => tr.bySpan.get(id).foreach(total += _))
      driverOnlyNs += r.durNs - Tracer.unionLength(
        tr.jobIntervals(ids).map { case (s, e) => (math.max(s, r.start), math.min(e, r.end)) }
          .filter { case (s, e) => e > s })
      wallNs += r.durNs
      planMs += tr.planMsWithin(r.start, r.end)
    }
    val k = roots.size.toDouble
    // self time: a span's duration minus its children's (sequential on
    // the one client thread, so their durations do not overlap)
    val selfMs = roots.flatMap(subtree).map { s =>
      s -> (s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum) / 1e6
    }
    val byModule = selfMs.groupBy(_._1.module).map { case (m, xs) => s"$m.self_ms" -> xs.map(_._2).sum / k }
    val byName = selfMs.filter(_._1.module != "bench").groupBy { case (s, _) => s"${s.module}.${s.name}.self_ms" }
      .map { case (n, xs) => n -> xs.map(_._2).sum / k }
    val execByModule = tr.execMsByCallSite.map { case (m, ms) => s"$m.exec_ms" -> ms / k }
    Map(
      "spark.plan_ms" -> planMs / k,
      "spark.jobs" -> total.jobs / k,
      "spark.stages" -> total.stages / k,
      "spark.tasks" -> total.tasks / k,
      "spark.driver_only_ms" -> driverOnlyNs / 1e6 / k,
      "spark.busy_frac" -> total.runMs / (wallNs / 1e6 * cores),
      "spark.exec_run_ms" -> total.runMs / k,
      "spark.exec_cpu_ms" -> total.cpuNs / 1e6 / k,
      "spark.gc_ms" -> total.gcMs / k,
      "spark.sched_wait_ms" -> total.schedWaitMs / k,
      "spark.shuffle_write_bytes" -> total.shuffleWrite / k,
      "spark.shuffle_read_bytes" -> total.shuffleRead / k,
      "spark.spill_bytes" -> total.spill / k,
      "spark.result_bytes" -> total.result / k,
      "spark.task_failures" -> total.taskFailures / k) ++ byModule ++ byName ++ execByModule
  }

  private def spanTree(tr: Tracer): JArray = {
    val base = tr.spans.headOption.map(_.start).getOrElse(0L)
    JArray(tr.spans.map { s =>
      val c = tr.bySpan.get(s.id)
      JObject(List("id" -> JInt(s.id), "parent" -> JInt(s.parent), "op" -> JInt(s.op),
        "module" -> JString(s.module), "name" -> JString(s.name),
        "start_ms" -> JDouble((s.start - base) / 1e6), "dur_ms" -> JDouble(s.durNs / 1e6)) ++
        c.toList.flatMap(c => List("jobs" -> JLong(c.jobs), "tasks" -> JLong(c.tasks),
          "exec_run_ms" -> JLong(c.runMs))))
    }.toList)
  }
}
