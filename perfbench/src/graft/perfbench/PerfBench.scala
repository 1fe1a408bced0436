package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GoldenGen, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop, single-client benchmark over a list of registry keys.
  *
  * One JVM, `local[nproc]`. Set-up is session creation and one untimed
  * cold pass that fingerprints every key against its pin; session
  * artifacts a key reads are derived there, on first touch. Timed passes
  * then run the keys one after another in a seed-permuted order: each
  * execution is the key's builder, the plan phases and
  * `queryExecution.toRdd.count()`, followed by the same cache sweep
  * `graft.Bench` does. Exactly `--passes` timed passes run, so every run
  * of a workload, on any commit, has the same number of latency samples
  * and the tail metric is always the same percentile.
  *
  * With `--trace 1`, an untimed warm-up pass comes first, then exactly four
  * timed passes: untraced, traced, traced, untraced (so JIT warm-up drift
  * cancels between the two kinds); a
  * traced pass records spans run → pass → key → {build → analysis,
  * optimize, physical, exec, sweep}, each span its own job group, and
  * [[LayerListener]] attributes Spark task metrics to them. The untraced
  * passes give the wall time the layer self times are compared with and
  * the tracing overhead.
  *
  * Writes one JSON record to `--out` (and spans to `--spans`); `run.py`
  * turns it into the benchmark's result line.
  */
object PerfBench {
  val FailKey = "perfbench_selftest_fail"

  final case class Pin(rows: Long, hash: Option[String])

  /** One timed execution. `latency` is build + plan + exec, without sweep. */
  final case class Exec(key: String, ok: Boolean, latency: Double, traced: Boolean)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val keys = a("keys").split(",").toSeq.filter(_.nonEmpty)
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val passes = if (trace) 4 else a("passes").toInt
    val sfDir = a("sf-dir")
    val pinOut = a.get("pin-out")
    val inject = a.get("inject-failure").contains("1")

    val unregistered = keys.filterNot(SparkEntry.queries.contains)
    if (unregistered.nonEmpty) fatal(s"keys no longer registered: ${unregistered.mkString(", ")}")
    val pins: Map[String, Pin] = if (pinOut.isDefined) Map.empty else readPins(a("pins"))
    val unpinned = keys.filterNot(pins.contains)
    if (pinOut.isEmpty && unpinned.nonEmpty) fatal(s"keys without a pin: ${unpinned.mkString(", ")}")

    val builders: Map[String, (SparkSession, String) => DataFrame] =
      SparkEntry.queries ++ Map(FailKey -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("deliberate self-test failure")))
    val runKeys = if (inject) keys :+ FailKey else keys
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = loadAvg
    val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val sessionStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .config("spark.local.dir", a("local-dir"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionEnd = System.nanoTime()
    val listener = new LayerListener
    if (trace) sc.addSparkListener(listener)
    val on = new Tracer(sc, enabled = true)
    val off = new Tracer(sc, enabled = false)
    val tr = if (trace) on else off

    def sweep(t: Tracer): Unit = t("sweep") { s =>
      if (s != null) {
        s.attrs("persisted_rdds") = sc.getPersistentRDDs.size
        s.attrs("persisted_bytes") = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      }
      graft.api.Caches.sweep(spark)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    def order(pass: Int): Seq[String] = new scala.util.Random(seed * 1000003L + pass).shuffle(runKeys)

    var attempted, failed = 0L
    val failures = mutable.LinkedHashMap.empty[String, String]
    def fail(key: String, why: String): Unit = {
      failed += 1
      failures.getOrElseUpdate(key, why)
    }

    // ---- set-up (a cold pass that checks every result), then whole timed
    // passes; a pin run stops after set-up
    val fingerprints = mutable.LinkedHashMap.empty[String, (Long, String)]
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, seconds)
    val passSpans = mutable.ArrayBuffer.empty[Span]
    val keyStats = mutable.ArrayBuffer.empty[(Double, Int, Int)] // codegen s, exchanges, scans
    var setupS = 0.0
    tr("run", sessionStart) { run =>
      if (run != null) {
        tr.child(run, "session", sessionStart, sessionEnd)
        run.attrs ++= Seq("seed" -> seed, "cores" -> cores)
      }
      tr("setup") { _ =>
        tr("cold_pass") { _ =>
          for (key <- order(0)) tr("cold_key") { ks =>
            if (ks != null) ks.attrs("key") = key
            attempted += 1
            try {
              val fp = GoldenGen.fingerprint(builders(key)(spark, sfDir))
              fingerprints(key) = fp
              pins.get(key).foreach { p =>
                if (p.rows != fp._1) fail(key, s"cold pass: ${fp._1} rows, pinned ${p.rows}")
                else if (p.hash.exists(_ != fp._2)) fail(key, s"cold pass: hash ${fp._2} differs from pin")
              }
            } catch { case e: Throwable => fail(key, s"cold pass: ${describe(e)}") }
            sweep(off)
          }
        }
      }
      setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      // a key that failed its cold-pass check is never timed as a success
      val badKeys = failures.keySet.toSet
      // a traced run starts with one extra untimed pass: the first timed pass
      // is still warming up, which would bias the traced/untraced comparison
      if (trace && pinOut.isEmpty) for (key <- order(-1)) {
        try builders(key)(spark, sfDir).queryExecution.toRdd.count()
        catch { case _: Throwable => () } // counted by the timed passes
        sweep(off)
      }
      for (pass <- 1 to passes if pinOut.isEmpty) {
        val traced = trace && pass % 4 >= 2 // U T T U: cancels linear warm-up drift
        val t = if (traced) on else off
        if (!traced) sc.clearJobGroup()
        val p0 = System.nanoTime()
        t("pass") { ps =>
          if (ps != null) { ps.attrs("pass") = pass; passSpans += ps }
          for (key <- order(pass)) {
            attempted += 1
            t("key") { ks =>
              if (ks != null) ks.attrs("key") = key
              val cg0 = CodeGenerator.compileTime
              val t0 = System.nanoTime()
              try {
                val df = t("build") { bs =>
                  val df = builders(key)(spark, sfDir)
                  if (bs != null) df.queryExecution.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
                    .foreach(ph => t.child(bs, "analysis", ph.startTimeMs * 1000000L + nanoOffset,
                      ph.endTimeMs * 1000000L + nanoOffset))
                  df
                }
                val qe = df.queryExecution
                t("optimize")(_ => qe.optimizedPlan)
                t("physical")(_ => qe.executedPlan)
                val rows = t("exec")(_ => qe.toRdd.count())
                val latency = (System.nanoTime() - t0) / 1e9
                val wrong =
                  if (badKeys.contains(key)) Some("failed its cold-pass check")
                  else pins.get(key).filter(_.rows != rows).map(p => s"timed pass: $rows rows, pinned ${p.rows}")
                wrong.foreach(fail(key, _))
                execs += Exec(key, wrong.isEmpty, latency, traced)
                if (ks != null) {
                  val codegen = (CodeGenerator.compileTime - cg0) / 1e9
                  val (exchanges, scans) = PlanShape.counts(qe.executedPlan)
                  ks.attrs ++= Seq("rows" -> rows, "codegen_s" -> codegen,
                    "exchanges" -> exchanges, "scans" -> scans)
                  keyStats += ((codegen, exchanges, scans))
                }
              } catch {
                case e: Throwable =>
                  fail(key, s"timed pass: ${describe(e)}")
                  execs += Exec(key, ok = false, (System.nanoTime() - t0) / 1e9, traced)
              }
              sweep(t)
            }
          }
        }
        passWall += ((traced, (System.nanoTime() - p0) / 1e9))
      }
    }

    pinOut.foreach { path =>
      // merge-order-sensitive sketches are pinned by row count only
      json.writeValue(new java.io.File(path), fingerprints.map { case (k, (rows, hash)) =>
        k -> Map("rows" -> rows, "hash" -> Option(hash).filterNot(_ => GoldenGen.mergeOrderSensitive(k)))
      })
      spark.stop()
      if (failures.nonEmpty) fatal(s"pinning failed: ${failures.mkString("; ")}")
      sys.exit(0)
    }

    // ---- end-to-end metrics (untraced passes only)
    val untracedWall = passWall.filterNot(_._1).map(_._2)
    val timed = execs.filterNot(_.traced)
    val lat = timed.filter(_.ok).map(_.latency).sorted.toSeq
    val tailIdx = math.max(0, lat.size - 11)
    val heapMb = {
      System.gc(); Thread.sleep(200); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    val endToEnd = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "queries_per_s" -> lat.size / untracedWall.sum,
      "latency_p50_s" -> (if (lat.isEmpty) None else Some(median(lat))),
      "latency_tail_s" -> (if (lat.isEmpty) None else Some(lat(tailIdx))),
      "failed_frac" -> failed.toDouble / attempted,
      "retained_heap_mb" -> heapMb)

    val record = mutable.LinkedHashMap[String, Any](
      "keys" -> keys.size, "seed" -> seed, "cores" -> cores,
      "registry_size" -> SparkEntry.queries.size,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
      "passes" -> passWall.size, "pass_wall_s" -> passWall.map(_._2),
      "latency_samples" -> lat.size,
      "key_latency_s" -> timed.groupBy(_.key).map { case (k, es) => k -> es.map(_.latency) },
      "latency_tail_pct" -> (if (lat.isEmpty) 0.0 else 100.0 * (tailIdx + 1) / lat.size),
      "end_to_end" -> endToEnd)

    if (trace) {
      org.apache.spark.ListenerBusAccess.drain(sc)
      record("per_layer") = layerMetrics(on, listener, passSpans.toSeq, keyStats.toSeq,
        untracedWall.toSeq, passWall.filter(_._1).map(_._2).toSeq, cores,
        (dirBytes(Paths.get(a("warehouse"))) + dirBytes(Paths.get(System.getProperty("java.io.tmpdir")))) / 1e6)
      a.get("spans").foreach { path =>
        val lines = on.spans.map { s =>
          val jobs = listener.bySpan.get(Tracer.group(s)).fold(Map.empty[String, Any])(jobMap)
          json.writeValueAsString(mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
            "parent" -> s.parent, "start_s" -> (s.start - on.spans.head.start) / 1e9,
            "dur_s" -> s.seconds, "self_s" -> on.selfSeconds(s)) ++ s.attrs ++ jobs)
        }
        Files.write(Paths.get(path), lines.asJava)
      }
    }
    json.writeValue(new java.io.File(a("out")), record)
    spark.stop()
  }

  /** Per-layer metrics, each a mean per traced pass unless named otherwise. */
  private def layerMetrics(t: Tracer, l: LayerListener, passes: Seq[Span],
      keyStats: Seq[(Double, Int, Int)], untracedWall: Seq[Double], tracedWall: Seq[Double],
      cores: Int, writtenMb: Double): mutable.LinkedHashMap[String, Any] = {
    val inPass = passes.map(_.id).toSet
    def underPass(s: Span): Boolean =
      Iterator.iterate(s.parent)(p => if (p < 0) -1 else t.spans(p).parent)
        .takeWhile(_ >= 0).exists(inPass)
    val layered = t.spans.filter(underPass).groupBy(_.name)
    val n = passes.size.toDouble
    def dur(name: String) = layered.getOrElse(name, Nil).map(_.seconds).sum / n
    def self(name: String) = layered.getOrElse(name, Nil).map(t.selfSeconds).sum / n
    def jobs(name: String)(f: JobTotals => Long): Double =
      layered.getOrElse(name, Nil).flatMap(s => l.bySpan.get(Tracer.group(s))).map(f).sum / n
    def attr(name: String, k: String) =
      layered.getOrElse(name, Nil).map(s => s.attrs(k).asInstanceOf[Number].doubleValue).sum / n
    val peakMem = passes.map { p =>
      layered.getOrElse("exec", Nil).filter(_.parent >= 0)
        .filter(s => t.spans(s.parent).parent == p.id)
        .flatMap(s => l.bySpan.get(Tracer.group(s))).map(_.peakMem).foldLeft(0L)(math.max)
    }
    val untraced = untracedWall.sum / untracedWall.size
    val traced = tracedWall.sum / tracedWall.size
    val layerSelf = self("build") + dur("analysis") + dur("optimize") + dur("physical") +
      dur("exec") + dur("sweep")
    val execWall = dur("exec")
    mutable.LinkedHashMap[String, Any](
      "ops.build_s" -> self("build"),
      "ops.build_jobs" -> jobs("build")(_.jobs),
      "ops.build_task_cpu_s" -> jobs("build")(_.cpuNs) / 1e9,
      "plan.analysis_s" -> dur("analysis"),
      "plan.optimize_s" -> dur("optimize"),
      "plan.physical_s" -> dur("physical"),
      "plan.codegen_s" -> keyStats.map(_._1).sum / n,
      "plan.exchanges" -> keyStats.map(_._2).sum / n,
      "plan.scans" -> keyStats.map(_._3).sum / n,
      "exec.wall_s" -> execWall,
      "exec.jobs" -> jobs("exec")(_.jobs),
      "exec.stages" -> jobs("exec")(_.stages),
      "exec.tasks" -> jobs("exec")(_.tasks),
      "exec.task_cpu_s" -> jobs("exec")(_.cpuNs) / 1e9,
      "exec.task_run_s" -> jobs("exec")(_.runMs) / 1e3,
      "exec.cpu_ratio" -> jobs("exec")(_.cpuNs) / 1e9 / (execWall * cores),
      "exec.scan_mb" -> jobs("exec")(_.inputBytes) / 1e6,
      "exec.shuffle_write_mb" -> jobs("exec")(_.shuffleWrite) / 1e6,
      "exec.shuffle_read_mb" -> jobs("exec")(_.shuffleRead) / 1e6,
      "exec.fetch_wait_s" -> jobs("exec")(_.fetchWaitMs) / 1e3,
      "exec.spill_mb" -> jobs("exec")(_.spillBytes) / 1e6,
      "exec.gc_s" -> jobs("exec")(_.gcMs) / 1e3,
      "exec.peak_mem_mb" -> peakMem.sum / n / 1e6,
      "caches.sweep_s" -> dur("sweep"),
      "caches.persisted_rdds" -> attr("sweep", "persisted_rdds"),
      "caches.persisted_mb" -> attr("sweep", "persisted_bytes") / 1e6,
      "tables.written_mb" -> writtenMb,
      "trace.pass_untraced_s" -> untraced,
      "trace.pass_traced_s" -> traced,
      "trace.overhead_frac" -> (traced - untraced) / untraced,
      "trace.layer_coverage" -> layerSelf / untraced)
  }

  private def jobMap(j: JobTotals): Map[String, Any] = Map(
    "jobs" -> j.jobs, "stages" -> j.stages, "tasks" -> j.tasks, "task_cpu_s" -> j.cpuNs / 1e9,
    "task_run_s" -> j.runMs / 1e3, "scan_bytes" -> j.inputBytes,
    "shuffle_write_bytes" -> j.shuffleWrite, "shuffle_read_bytes" -> j.shuffleRead,
    "fetch_wait_s" -> j.fetchWaitMs / 1e3, "spill_bytes" -> j.spillBytes,
    "gc_s" -> j.gcMs / 1e3, "peak_mem_bytes" -> j.peakMem)

  private def readPins(path: String): Map[String, Pin] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    root.properties().asScala.map { e =>
      val h = e.getValue.get("hash")
      e.getKey -> Pin(e.getValue.get("rows").asLong, Option(h).filterNot(_.isNull).map(_.asText))
    }.toMap
  }

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  private def median(xs: Seq[Double]): Double =
    if (xs.size % 2 == 1) xs(xs.size / 2) else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"

  private def fatal(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(3)
  }
}
