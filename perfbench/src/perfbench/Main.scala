package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Shim
import org.json4s.{DefaultFormats, Extraction, JDouble, JNull}
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run in one JVM: set-up, one cold pass over the
  * workload's ops, whose outputs are then checked, then warm passes
  * until their ops have run for `--seconds`. A closed loop: each op
  * starts when the previous one returns.
  *
  * The run writes a JSON record (`--out`) with the context, every op
  * timing and every check observation; with `--trace 1` also the
  * per-layer counters, and the spans to `--spans`. Statistics and
  * verdicts are computed from the record by `perfbench/run.py`.
  *
  * With `--trace 1` the cold pass is traced and the warm passes
  * alternate untraced/traced, so the tracing overhead is measured in the
  * same window as the traced numbers.
  */
object Main {
  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      e.printStackTrace()
      System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val fixtures = Paths.get(a("fixtures")).toAbsolutePath.toString
    val work = Paths.get(a("work")).toAbsolutePath
    require(Seq("queries", "iterative").contains(workload),
      s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors
    // set-up: from process start to a session that has answered SELECT 1
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val calibBefore = calib()
    val tInputs = System.nanoTime()
    val iterative =
      if (workload == "iterative") Some(new Iterative(spark, seed, cores)) else None
    val inputParts = iterative.map(_.prepare())
    val inputsS = (System.nanoTime() - tInputs) / 1e9
    val ops: Seq[Op] = workload match {
      case "queries" => Workloads.queryOps(spark, fixtures, Workloads.queries)
      case _ => iterative.get.ops
    }

    val tracer = new Tracer(spark)
    val rnd = new java.util.Random(seed)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** One timed pass: the cold pass in the listed order, so that its one
      * sample per run does not depend on which op pays the first-touch
      * costs (1–4 s), the warm passes in seeded orders. With `check`,
      * every output is checked after the pass, outside the timed
      * regions: a batch query's digest re-executes it, reading the
      * fronts the pass built.
      * Returns the pass's timed wall. */
    def runPass(traced: Boolean, check: Boolean): Double = {
      val p = passes.size
      tracer.setEnabled(traced)
      val cpu0 = processCpuS()
      val order = if (p == 0) ops else ops.map(o => (rnd.nextLong(), o)).sortBy(_._1).map(_._2)
      val timed = order.map { o =>
        val id = s"p$p:${o.name}"
        try { val (r, dt) = tracer.op(id)(o.run(tracer)); (o, id, r, null, Some(dt)) }
        catch { case e: Throwable =>
          (o, id, null, s"${e.getClass.getName}: ${e.getMessage}", None)
        }
      }
      val cpu = processCpuS() - cpu0
      tracer.setEnabled(false)
      val results = timed.map { case (o, id, out, err, wall) =>
        val verdict =
          if (err != null || !check) null
          else try o.check(out)
          catch { case e: Throwable =>
            Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
          }
        Map("op" -> o.name, "module" -> o.module, "wall_s" -> wall.map(Double.box).orNull,
          "error" -> err, "check" -> verdict,
          "counters" -> (if (traced) tracer.countersOf(id) else null))
      }
      // a failed op has no wall; it counts in `failed`
      val wall = timed.flatMap(_._5).sum
      val session = if (trace) sessionState(spark) else Map.empty
      passes += Map("pass" -> p, "kind" -> (if (p == 0) "cold" else "warm"),
        "traced" -> traced, "checked" -> check, "wall_s" -> wall, "cpu_s" -> cpu,
        "ops" -> results) ++ session
      wall
    }

    runPass(traced = trace, check = true)
    // at least two warm passes; the window counts timed op walls only,
    // not checks or trace upkeep
    var warmElapsed = 0.0
    var w = 0
    while (w < 2 || warmElapsed < seconds) {
      warmElapsed += runPass(traced = trace && w % 2 == 1, check = false)
      w += 1
    }

    val probes = if (trace) layerProbes(spark, tracer, fixtures, iterative) else Nil
    iterative.foreach(_.unpersist())
    val heapMb = retainedHeapMb()
    val calibAfter = calib()
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace,
      "context" -> Map(
        "nproc" -> cores, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "fixtures" -> fixtures, "seed" -> seed,
        "calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter,
        "calib_note" -> "single-thread spin of 1e8 xorshift steps; context only"),
      "setup_s" -> setupS, "inputs_s" -> inputsS,
      "inputs_parts_s" -> inputParts.orNull, "shape" -> iterative.map(_.shape).orNull,
      "passes" -> passes, "probes" -> probes,
      "retained_heap_mb" -> heapMb,
      "warehouse_mb" -> dirMb(work.resolve("warehouse")))
    if (trace) a.get("spans").foreach(p => write(Paths.get(p), tracer.spanMaps))
    write(Paths.get(a("out")), record)
    spark.stop()
    Shim.stopStateStore()
    System.exit(0)
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      // the retention and state-store settings of the repo's own mains
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "64")
      .config("spark.ui.retainedStages", "128")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sql("SELECT 1").collect() // ready: the session state and extensions are built
    s
  }

  /** Session resources after a pass: temp views, driver heap after a
    * forced GC, and cached RDD bytes. */
  private def sessionState(spark: SparkSession): Map[String, Any] = Map(
    "temp_tables" -> spark.catalog.listTables().collect().count(_.isTemporary),
    "heap_mb" -> retainedHeapMb(),
    "storage_mb" -> spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6)

  /** Direct, traced calls into single layers, three times each. */
  private def layerProbes(spark: SparkSession, tracer: Tracer, fixtures: String,
      iterative: Option[Iterative]): Seq[Map[String, Any]] = {
    tracer.setEnabled(true)
    def probe(name: String)(body: => Any): Seq[Map[String, Any]] =
      (0 until 3).map { r =>
        val id = s"probe$r:$name"
        val (_, dt) = tracer.op(id)(tracer.span(name)(body))
        Map("probe" -> name, "wall_s" -> dt, "counters" -> tracer.countersOf(id))
      }
    val tables = graft.Tables.names.flatMap(n =>
      probe(s"Tables.resolve.$n")(graft.Tables(spark, fixtures, n).schema))
    val engine = iterative.toSeq.flatMap { it =>
      probe("Damds.statistics")(graft.damds.Damds.statistics(it.damdsBlocks)) ++
        probe("Collectives.reduce")(graft.collectives.Collectives.reduce(
          it.payloads, graft.collectives.Collectives.vectorSum))
    }
    tracer.setEnabled(false)
    tables ++ engine
  }

  /** Driver heap in use after full GCs. Spark's context cleaner frees
    * blocks and broadcasts only after the GC that finds them
    * unreachable, so this collects, waits and collects again, and keeps
    * the lowest of three readings. */
  private def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min

  private def dirMb(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum / 1e6
      finally s.close()
    }

  /** CPU seconds used by the whole JVM so far: every thread, the JIT
    * and the GC included. Context only. */
  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Seconds for 1e8 steps of a single-thread xorshift loop. */
  private def calib(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 100000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      x *= 0x2545f4914f6cdd1dL; i += 1
    }
    if (x == 0L) System.err.println("unreachable")
    (System.nanoTime() - t0) / 1e9
  }

  /** Writes `v` as JSON; NaN (an unclosed span's end) becomes null. */
  private def write(p: Path, v: Any): Unit = {
    val json = Extraction.decompose(v)(DefaultFormats)
      .transform { case JDouble(d) if d.isNaN || d.isInfinite => JNull }
    Files.createDirectories(p.getParent)
    Files.writeString(p, compact(render(json)))
  }
}
