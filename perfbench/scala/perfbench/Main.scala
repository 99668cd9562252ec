package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One closed-loop workload: one client thread issues the next op only
  * after the previous one (and its untimed correctness check) is done.
  */
trait Workload {
  /** Ops per schedule cycle (e.g. one compaction period). A window
    * always ends on a whole cycle, so every run has the same op mix.
    */
  def cycleLen: Int
  /** Untimed warm-up ops, run as ops -warmupOps..-1 (the tail of one
    * cycle, so every kind of op has run once before the window).
    */
  def warmupOps: Int = cycleLen
  /** Generate inputs and build the served state under `dir`. */
  def build(dir: String): Unit
  /** Untimed: generate op `i`'s inputs. */
  def prepare(i: Int): Unit
  /** Timed: op `i`, calling the library through `tr`. */
  def op(i: Int, tr: Tracer): Unit
  /** Untimed correctness gate for op `i`: None when correct. */
  def check(i: Int): Option[String]
  /** Input sizes and checksums for the run record. */
  def inputs: Map[String, Any]
  /** Per-layer metrics of this workload, from the traced ops. */
  def layerMetrics(tr: Tracer, ops: Seq[Int]): Map[String, Double]
}

object Main {
  val SetupReps = 3
  val MinCycles = 2
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Drop every cached and persisted frame and the engine's fit-once
    * caches, so a discarded set-up build holds no memory. (The suffix
    * span cache has no clear hook; unpersisting empties its entries.)
    */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.dedup.Dedup.clearSigCache()
    graft.model.NgramLm.clear()
  }

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, work, stamps, benchJson) = args
    val seed = seedS.toLong
    val window = secondsS.toDouble
    val trace = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val declared = json.readTree(new java.io.File(benchJson))
      .get(if (trace) "per_layer" else "end_to_end")

    val spark = graft.GraftSession.fromEnv()
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tr = new Tracer(spark, trace)
    val wl: Workload = wlName match {
      case "odds_refresh" => new OddsRefresh(spark, seed)
      case "dedup_maintenance" => new DedupMaintenance(spark, seed)
    }

    // set-up: the build is repeated anew, each time in its own
    // directory (fresh plans, so fit-once caches cannot carry over)
    // and after the previous build's cached state is released, so the
    // last build is the only state the window runs against and holds;
    // then untimed warm-up ops warm the JIT and the codegen cache
    def seconds(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val buildS = (0 until SetupReps).map { rep =>
      if (rep > 0) release(spark)
      val s = seconds(wl.build(s"$work/setup$rep"))
      Log(f"build $rep: $s%.3f s")
      s
    }
    val warmS = seconds {
      val quiet = new Tracer(spark, false)
      (-wl.warmupOps until 0).foreach { j => wl.prepare(j); wl.op(j, quiet) }
    }
    Log(f"warm-up: $warmS%.3f s")

    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val lat = ArrayBuffer.empty[Double]
    val tracedOps = ArrayBuffer.empty[Int]
    val cycleWall = mutable.LinkedHashMap.empty[Int, Double]
    val errors = ArrayBuffer.empty[String]
    var cpuNs = 0L
    var timed = 0.0
    var failed = 0
    var i = 0
    // trace runs alternate untraced and traced cycles, so the tracing
    // overhead is measured on the same op mix. A window lasts at least
    // `window` seconds of op time and at least MinCycles cycles, so the
    // quantiles and the once-per-cycle spike always have several samples.
    val period = if (trace) 2 * wl.cycleLen else wl.cycleLen
    val windowT0 = System.nanoTime()
    while (timed < window || i < MinCycles * wl.cycleLen || i % period != 0) {
      wl.prepare(i)
      val traced = trace && (i / wl.cycleLen) % 2 == 1
      tr.opStart(i, traced)
      val c0 = cpu.getProcessCpuTime
      val t0 = System.nanoTime()
      val ok = try { wl.op(i, tr); true } catch {
        case e: Exception =>
          errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      Log(f"op $i: $dt%.3f s")
      cpuNs += cpu.getProcessCpuTime - c0
      tr.opEnd()
      if (traced) tracedOps += i
      lat += dt
      timed += dt
      val cyc = i / wl.cycleLen
      cycleWall(cyc) = cycleWall.getOrElse(cyc, 0.0) + dt
      val k0 = System.nanoTime()
      val bad = if (!ok) Some("op raised") else
        try wl.check(i) catch {
          case e: Exception => Some(s"check raised ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      Log(f"check $i: ${(System.nanoTime() - k0) / 1e9}%.3f s")
      bad.foreach { why =>
        failed += 1
        if (ok) errors += s"op $i: $why"
      }
      i += 1
    }
    val wallS = (System.nanoTime() - windowT0) / 1e9
    // heap still live after full collections: served state, caches and
    // anything an op leaked. The pause lets Spark's ContextCleaner drop
    // the blocks of frames the first collection found unreachable.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1e6
    val n = lat.size
    val sorted = lat.sorted.toSeq

    val values: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> (sessionS + Stats.median(buildS) + warmS),
        "ops_per_s" -> n / timed,
        "op_p50_s" -> Stats.quantile(sorted, 0.5),
        "op_p90_s" -> Stats.quantile(sorted, 0.9),
        "cpu_s_per_op" -> cpuNs / 1e9 / n,
        "retained_heap_mb" -> retainedMb)
      else {
        val traced = cycleWall.filter(_._1 % 2 == 1).values.toSeq
        val plain = cycleWall.filter(_._1 % 2 == 0).values.toSeq
        val overhead = Stats.median(traced) / Stats.median(plain) - 1.0
        Layers.common(spark, tr, tracedOps.toSeq) ++
          wl.layerMetrics(tr, tracedOps.toSeq) +
          ("trace.overhead_frac" -> overhead)
      }
    // report the names and units BENCHMARK.json declares; a layer the
    // workload does not call reads 0
    val metrics = (0 until declared.size).map { k =>
      val m = declared.get(k)
      val name = m.get("name").asText
      val v = values.getOrElse(name,
        if (trace) 0.0 else sys.error(s"no value for metric $name"))
      (name, v, m.get("unit").asText)
    }

    val record = mutable.LinkedHashMap[String, Any](
      "stamps" -> json.readTree(stamps),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "java_version" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master,
      "session_s" -> sessionS,
      "build_reps_s" -> buildS,
      "warmup_s" -> warmS,
      "window_wall_s" -> wallS,
      "timed_s" -> timed,
      "ops" -> n,
      "op_s" -> lat.map(x => math.round(x * 1000) / 1000.0).toSeq,
      "traced_ops" -> tracedOps.size,
      "failed_frac" -> failed.toDouble / math.max(1, n),
      "peak_rss_mb" -> Stats.peakRssMb(),
      "inputs" -> wl.inputs,
      "errors" -> errors.take(5).toSeq)
    println(json.writeValueAsString(Map("perfbench_record" -> record)))
    spark.stop()

    val result = json.writeValueAsString(mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> n,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
      }: _*)))
    println(result)
    System.out.flush()
    sys.exit(0)
  }
}

/** Progress lines on stderr (the JVM log), with seconds since start. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
