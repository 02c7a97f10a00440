package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.{GarbageCollectionNotificationInfo => GcInfo}
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftConf, SparkEntry}
import graft.api.{FalApi, Project, RunLedger}
import graft.operators.Shared
import graft.plans.{HookTask, NodeGraph, Plan, Runner, Scheduler,
  Selectors}

/** Benchmark harness process: runs one workload for a fixed time and
  * writes its raw timings, output digests and (when traced) per-layer
  * figures to a JSON file. `perfbench/run.py` builds this, prepares the
  * inputs, checks the outputs and turns the raw figures into metrics.
  *
  * {{{
  *   --mode run|prepare  --workload W  --seed N  --seconds S
  *   --trace 0|1  --corpus DIR  --work DIR  --out FILE  [--catalog DIR]
  *   [--queries q1,q2,...]  [--project DIR --sources DIR --incr DIR]
  *   [--pools 0|1]  [--units N]
  * }}}
  *
  * A run measures at least `--units` units (flow cycles, query passes,
  * cold builds) and at least `--seconds`.
  *
  * Every figure is taken from outside the program: wall time around
  * calls into each module's public functions, the run ledger, the
  * standing-model timing maps, and a SparkListener registered here.
  */
object Main {
  private val cores = Runtime.getRuntime.availableProcessors()

  private type Out = mutable.LinkedHashMap[String, Any]

  private var minUnits = 1


  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    Spans.on = a.get("trace").contains("1")
    minUnits = a.get("units").map(_.toInt).getOrElse(1)
    LiveHeap.install()
    val out: Out = mutable.LinkedHashMap("cores" -> cores)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val tuned = a("workload") != "flow_dag"
    val spark = Spans("harness.session")(session(a, tuned))
    out("session_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    val probe = if (Spans.on) {
      val p = new Probe
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None
    try {
      a("mode") match {
        case "run" => a("workload") match {
          case "query_inventory" => queries(spark, a, probe, out, jvmStart)
          case "standing_cold" => standing(spark, a, probe, out, jvmStart)
          case "flow_dag" => flow(spark, a, probe, out, jvmStart)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        case "prepare" => prepare(spark, a, out)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      }
      out("peak_rss_kb") = peakRssKb
      out("live_heap_peak_mb") = LiveHeap.peakBytes / 1048576.0
      if (Spans.on)
        Spans.write(Paths.get(a("work"), "spans.jsonl"))
    } finally {
      Files.writeString(Paths.get(a("out")), Json(out))
      spark.stop()
    }
  }

  /** `tuned` = the session `graft.Bench` builds (with `GraftConf.tune`);
    * otherwise the one `graft.Cli` builds (no tune). Only the scratch
    * locations are the benchmark's: spill, warehouse and catalog files
    * stay inside the run's work directory. */
  private def session(a: Map[String, String], tuned: Boolean)
      : SparkSession = {
    val work = a("work")
    val b = if (tuned) SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
      else GraftConf.builder(s"local[$cores]", cores)
    val spark = b.config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (tuned) GraftConf.tune(spark)
    spark
  }

  /** Live-heap high-water mark: the largest heap occupancy left after
    * any garbage collection (what the program's data actually retains,
    * independent of how far the collector let the heap grow). */
  private object LiveHeap {
    @volatile var peakBytes = 0L
    def install(): Unit =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.foreach {
          case e: javax.management.NotificationEmitter =>
            e.addNotificationListener((n: javax.management.Notification,
                _: Any) => {
              if (n.getType == GcInfo.GARBAGE_COLLECTION_NOTIFICATION) {
                val info = GcInfo.from(n.getUserData.asInstanceOf[
                    javax.management.openmbean.CompositeData])
                val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                  .collect { case (pool, u) if !pool.contains("Metaspace") &&
                    !pool.contains("Code") && !pool.contains("Class") =>
                    u.getUsed }.sum
                synchronized { peakBytes = math.max(peakBytes, used) }
              }
            }, null, null)
          case _ =>
        }
  }

  private def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def message(t: Throwable): String =
    s"${t.getClass.getSimpleName}: " +
      Option(t.getMessage).getOrElse("").take(300)

  // ---- output digests ----------------------------------------------------

  private def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq
      .map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
      .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  /** Order-independent digest of a result: the wrapping sum of each
    * row's 64-bit md5 prefix, so equal multisets of rows agree. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { r =>
      acc += java.nio.ByteBuffer.wrap(md.digest(canon(r).getBytes(UTF_8)))
        .getLong
    }
    f"$acc%016x"
  }

  // ---- shared pieces -----------------------------------------------------

  /** The host-load control: `c1_scan`, median of five. With `warm`, it
    * first runs until three runs in a row agree within 15% (at most 20),
    * so the figure is not class loading or code generation. Returns the
    * median and the control's own wall time, which set-up time leaves
    * out. */
  private def control(spark: SparkSession, corpus: String,
      warm: Boolean = true): (Double, Double) =
    Spans("harness.control_c1_scan") {
      val t0 = System.nanoTime()
      val fn = SparkEntry.queries("c1_scan")
      def once(): Double = {
        val t = System.nanoTime()
        fn(spark, corpus).count()
        secs(t)
      }
      val runs = mutable.ArrayBuffer.empty[Double]
      while (warm && runs.size < 20 && (runs.size < 3 ||
          runs.takeRight(3).max > 1.15 * runs.takeRight(3).min))
        runs += once()
      median((1 to 5).map(_ => once())) -> secs(t0)
    }

  private def buildsFor(corpus: String): Map[String, Long] =
    Shared.buildCounts.toMap.collect {
      case ((d, m), n) if d == corpus => m -> n
    }

  private def withGroup[T](spark: SparkSession, id: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }

  private def dirStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(f => Files.isRegularFile(f)
          && !f.getFileName.toString.startsWith(".")).toSeq
        (files.map(Files.size).sum, files.count(
          _.getFileName.toString.startsWith("part-")).toLong)
      } finally s.close()
    }

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  private def sparkLayer(probe: Option[Probe], spark: SparkSession,
      t0: Long, t1: Long, compiles: Long,
      keep: String => Boolean = _ => true): Map[String, Any] =
    probe.map { p =>
      PerfbenchAccess.drain(spark.sparkContext)
      p.summary(t0, t1, cores, keep) ++ Map(
        "codegen_compiles" -> compiles.toDouble,
        "storage_mem_peak_mb" -> p.storagePeakBytes / 1048576.0)
    }.getOrElse(Map.empty)

  /** Write executions (any plan rooted at a data-writing command) in
    * the window: their count and busy seconds. */
  private def writeExecs(probe: Option[Probe], t0: Long, t1: Long)
      : Map[String, Any] = probe.map { p =>
    val ws = p.executions(t0, t1).filter(x =>
      x.root.contains("Insert") || x.root.contains("Write") ||
        x.root.contains("AsSelect") || x.plan.contains("InsertInto"))
    Map("count" -> ws.size,
      "busy_s" -> ws.map(x => math.max(0L, x.end - x.start)).sum / 1e3)
  }.getOrElse(Map.empty)

  // ---- query_inventory ---------------------------------------------------

  private def queries(spark: SparkSession, a: Map[String, String],
      probe: Option[Probe], out: Out, jvmStart: Long): Unit = {
    val corpus = a("corpus")
    val qs = a("queries").split(",").toSeq
    val fns = SparkEntry.queries
    spark.conf.set("graft.standing.root", a("catalog"))
    val builds0 = buildsFor(corpus)

    val verify = mutable.LinkedHashMap.empty[String, Any]
    val verifyS = mutable.LinkedHashMap.empty[String, Double]
    val tv = System.nanoTime()
    Spans("harness.verify_pass") {
      qs.foreach { q =>
        spark.sharedState.cacheManager.clearCache()
        val tq = System.nanoTime()
        verify(q) = try withGroup(spark, q) {
          val rows = fns(q)(spark, corpus).collect()
          Map("rows" -> rows.length, "digest" -> digest(rows))
        } catch { case t: Throwable => Map("error" -> message(t)) }
        verifyS(q) = secs(tq)
      }
    }
    out("verify_pass_s") = secs(tv)
    out("verify_s") = verifyS
    out("verify") = verify
    out("resolve_s") = Shared.resolveSeconds.values.sum

    val (ctl0, ctlWall) = control(spark, corpus, warm = false)
    val first = System.currentTimeMillis()
    out("setup_s") = (first - jvmStart) / 1e3 - ctlWall
    probe.foreach(_.resetStoragePeak())
    val compiles0 = PerfbenchAccess.codegenCompiles
    val rnd = new scala.util.Random(a("seed").toLong)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.LinkedHashMap.empty[String, String]
    val tStart = System.nanoTime()
    while (passes.size < minUnits || secs(tStart) < a("seconds").toDouble) {
      val order = rnd.shuffle(qs)
      val lat = mutable.LinkedHashMap.empty[String, Double]
      val build = mutable.LinkedHashMap.empty[String, Double]
      val rows = mutable.LinkedHashMap.empty[String, Long]
      Spans("harness.pass", s"pass${passes.size}") {
        order.foreach { q =>
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          try withGroup(spark, q) {
            val df = Spans("operators.build", q)(fns(q)(spark, corpus))
            build(q) = secs(t0)
            rows(q) = Spans("spark.action", q)(df.count())
          } catch { case t: Throwable => errors(q) = message(t) }
          lat(q) = secs(t0)
        }
      }
      passes += Map("latency_s" -> lat, "build_s" -> build, "rows" -> rows)
    }
    val last = System.currentTimeMillis()
    val compiles = PerfbenchAccess.codegenCompiles - compiles0
    out("control_s") = Seq(ctl0, control(spark, corpus)._1)
    out("passes") = passes
    out("errors") = errors
    out("builds") = buildsFor(corpus).map { case (m, n) =>
      m -> (n - builds0.getOrElse(m, 0L)) }.filter(_._2 > 0)
    out("stored_bytes") = dirStats(Paths.get(a("catalog")))._1
    if (probe.isDefined) {
      out("spark") = sparkLayer(probe, spark, first, last, compiles)
      out("spark_by_query") = qs.map(q =>
        q -> sparkLayer(probe, spark, first, last, 0L, _ == q)).toMap
    }
  }

  // ---- standing_cold -----------------------------------------------------

  private def standing(spark: SparkSession, a: Map[String, String],
      probe: Option[Probe], out: Out, jvmStart: Long): Unit = {
    val corpus = a("corpus")
    val triggers = a("queries").split(",").toSeq
    val fns = SparkEntry.queries
    val (ctl0, ctlWall) = control(spark, corpus, warm = false)
    val first = System.currentTimeMillis()
    out("setup_s") = (first - jvmStart) / 1e3 - ctlWall
    val compiles0 = PerfbenchAccess.codegenCompiles
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.LinkedHashMap.empty[String, String]
    val tStart = System.nanoTime()
    var stored = 0L
    while (passes.size < minUnits || secs(tStart) < a("seconds").toDouble) {
      val root = Paths.get(a("work"), s"standing_${passes.size}")
      spark.conf.set("graft.standing.root", root.toString)
      Shared.invalidate(corpus)
      Shared.buildSeconds.clear()
      val builds0 = buildsFor(corpus)
      val lat = mutable.LinkedHashMap.empty[String, Double]
      val results = mutable.LinkedHashMap.empty[String, Array[Row]]
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      Spans("harness.cold_build", s"pass${passes.size}") {
        triggers.foreach { q =>
          val tq = System.nanoTime()
          try withGroup(spark, s"touch:$q") {
            results(q) = Spans("operators.touch", q)(
              fns(q)(spark, corpus).collect())
          } catch { case t: Throwable => errors(q) = message(t) }
          lat(q) = secs(tq)
        }
      }
      val cold = secs(t0)
      val w1 = System.currentTimeMillis()
      stored = dirStats(root)._1
      passes += Map("cold_s" -> cold, "latency_s" -> lat,
        "digests" -> results.map { case (q, r) =>
          q -> Map("rows" -> r.length, "digest" -> digest(r)) },
        "builds" -> buildsFor(corpus).map { case (m, n) =>
          m -> (n - builds0.getOrElse(m, 0L)) }.filter(_._2 > 0),
        "build_s" -> Shared.buildSeconds.toMap,
        "stored_bytes" -> stored,
        "writes" -> writeExecs(probe, w0, w1))
      deleteRec(root)
    }
    val last = System.currentTimeMillis()
    val compiles = PerfbenchAccess.codegenCompiles - compiles0
    out("control_s") = Seq(ctl0, control(spark, corpus)._1)
    out("passes") = passes
    out("errors") = errors
    if (probe.isDefined)
      out("spark") = sparkLayer(probe, spark, first, last, compiles)
  }

  // ---- flow_dag ----------------------------------------------------------

  private def flow(spark: SparkSession, a: Map[String, String],
      probe: Option[Probe], out: Out, jvmStart: Long): Unit = {
    val project = a("project")
    val sources = Paths.get(a("sources"))
    val incr = Paths.get(a("incr"))
    val usePools = a.get("pools").contains("1") || probe.isDefined
    val increment: Seq[(Path, Path)] = {
      val s = Files.list(incr)
      try s.iterator().asScala.toSeq.flatMap { t =>
        val f = Files.list(t)
        try f.iterator().asScala.toSeq.map(p =>
          p -> sources.resolve(t.getFileName).resolve(p.getFileName))
        finally f.close()
      } finally s.close()
    }

    /** Run `body` with the source increment landed, then take it away
      * again (the next cycle starts from the base sources). */
    def landed[T](body: => T): T = {
      increment.foreach { case (from, to) =>
        Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING) }
      try body
      finally increment.foreach { case (_, to) => Files.deleteIfExists(to) }
    }

    def runOnce(storage: String, loads: mutable.Buffer[Double])
        : (Map[String, Any], FalApi) = {
      val tl = System.nanoTime()
      val registry = Spans("api.project_load")(Project.load(project, storage))
      loads += secs(tl)
      val api = new FalApi(spark, registry, new RunLedger)
      val (scripts, scriptFns) = graft.Cli.scriptConfig(registry, project)
      val (gBefore, gAfter, gFns) = graft.Cli.globalScriptConfig(project)
      val models = registry.listModels
      val config = Runner.RunConfig(threads = cores, scripts = scripts,
        scriptFns = scriptFns ++ gFns,
        pools = if (usePools) models.map(m => m.name -> m.name).toMap
          else Map.empty,
        tags = models.map(m => m.name -> m.tags).toMap,
        globalScriptsBefore = gBefore, globalScriptsAfter = gAfter)
      val planS = if (!Spans.on) 0.0 else {
        val tp = System.nanoTime()
        Spans("plans.plan") {
          val g = NodeGraph.build(models, scripts)
          val planned = Plan.scriptConnected(Plan.filtered(g,
            Selectors.plan(g, Nil, Nil, config.tags)))
          Scheduler.fromGraph(planned, id => HookTask(id, (_, _) => ()))
        }
        secs(tp)
      }
      val r0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val status = Spans("plans.run")(Runner.run(api, config))
      val wall = secs(t0)
      val r1 = System.currentTimeMillis()
      (Map("status" -> status, "wall_s" -> wall, "start_ms" -> r0,
        "end_ms" -> r1, "plan_s" -> planS,
        "node_spans" -> probe.map { p =>
          PerfbenchAccess.drain(spark.sparkContext)
          p.jobSpans(r0, r1).map { case (k, (s, e)) => k -> Seq(s, e) }
        }.getOrElse(Map.empty),
        "ledger" -> api.ledger.all.map(r =>
          Seq(r.node, r.status, r.detail, r.atEpochMs)),
        "statuses" -> registry.listModelIds,
        "deps" -> models.map(m => m.name -> m.deps).toMap,
        "python" -> models.filter(_.kind.isInstanceOf[
          graft.api.ModelKind.Python]).map(_.name),
        "tests" -> models.map(m =>
          m.name -> registry.testsFor(m.name).map(_.name)).toMap), api)
    }

    val loads = mutable.ArrayBuffer.empty[Double]
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    var first = 0L
    var ctl0 = 0.0
    val compiles0 = PerfbenchAccess.codegenCompiles
    var tStart = 0L
    var lastApi: FalApi = null
    var lastStorage: Path = null
    while (cycles.size < minUnits || secs(tStart) < a("seconds").toDouble) {
      val storage = Paths.get(a("work"), s"storage_${cycles.size}")
      if (lastStorage != null) deleteRec(lastStorage)
      deleteRec(storage)
      if (cycles.isEmpty) {
        // set-up leaves out the control's own time
        val (c, ctlWall) = control(spark, a("corpus"), warm = false)
        ctl0 = c
        first = System.currentTimeMillis()
        tStart = System.nanoTime()
        out("setup_s") = (first - jvmStart) / 1e3 - ctlWall
        probe.foreach(_.resetStoragePeak())
      }
      val w0 = System.currentTimeMillis()
      val (full, _) = runOnce(storage.toString, loads)
      val (inc, api) = landed(runOnce(storage.toString, loads))
      val w1 = System.currentTimeMillis()
      val (bytes, files) = dirStats(storage)
      cycles += Map("full" -> full, "incr" -> inc, "stored_bytes" -> bytes,
        "files" -> files, "writes" -> writeExecs(probe, w0, w1),
        "node_output_bytes" -> probe.map { p =>
          api.registry.listModels.map(m => m.name ->
            p.summary(w0, w1, cores, _ == m.name)("output_bytes")).toMap
        }.getOrElse(Map.empty))
      lastApi = api
      lastStorage = storage
    }
    val last = System.currentTimeMillis()
    val compiles = PerfbenchAccess.codegenCompiles - compiles0
    out("control_s") = Seq(ctl0, control(spark, a("corpus"))._1)
    out("project_load_s") = loads.toSeq
    out("cycles") = cycles
    // the last cycle's storage stays for the output check
    out("model_files") = lastApi.registry.listModels.map(m =>
      m.name -> lastApi.ref(m.name).inputFiles.toSeq).toMap
    out("model_bytes") = lastApi.registry.listModels.map(m => m.name ->
      lastApi.registry.currentPath(m.name).map(p =>
        dirStats(Paths.get(new java.net.URI(
          if (p.contains(":")) p else s"file:$p")))._1).getOrElse(0L)).toMap
    if (probe.isDefined)
      out("spark") = sparkLayer(probe, spark, first, last, compiles)
  }

  // ---- catalog preparation ---------------------------------------------

  /** Build the standing models the given queries read into `catalog`,
    * once per build of the code under test. */
  private def prepare(spark: SparkSession, a: Map[String, String],
      out: Out): Unit = {
    val corpus = a("corpus")
    spark.conf.set("graft.standing.root", a("catalog"))
    val errors = mutable.LinkedHashMap.empty[String, String]
    a("queries").split(",").foreach { q =>
      try SparkEntry.queries(q)(spark, corpus).count()
      catch { case t: Throwable => errors(q) = message(t) }
      spark.sharedState.cacheManager.clearCache()
    }
    out("built_s") = Shared.buildSeconds.toMap
    out("errors") = errors
  }
}
