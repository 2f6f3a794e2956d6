package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one closed-loop client.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR --cores C
  *
  * Generates the seeded inputs from the fixture tables in `--data` three
  * times (the last inputs are measured), warms up, takes the live heap,
  * then runs operations back to back for S seconds and writes `result.json`
  * (and with tracing, `trace.json`) into DIR. `run.py` turns those into
  * metrics. */
object Main {
  val GenerateRepeats = 3
  val PeakSampleMs = 100L

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt
    Files.createDirectories(work)
    val spark = session(cores, work)
    try {
      val (result, trace) = measure(spark, a("workload"), a("seed").toLong, a("seconds").toDouble,
        a("trace") == "1", cores, a("data"), work)
      trace.foreach(t => Files.writeString(work.resolve("trace.json"), Json(t)))
      Files.writeString(work.resolve("result.json"), Json(result))
    } finally spark.stop()
  }

  /** Built the way the test suite's shared session is built. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.geo.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def measure(spark: SparkSession, name: String, seed: Long, seconds: Double, traced: Boolean,
      cores: Int, data: String, work: Path): (Map[String, Any], Option[Map[String, Any]]) = {
    val jvm = new JvmProbe
    val wl = Workload(name, spark, seed, cores)
    val generateS = (1 to GenerateRepeats).map { k =>
      val t0 = System.nanoTime()
      wl.generate(data, work.resolve(s"input-$k"))
      val s = secondsSince(t0)
      if (k > 1) graft.pipeline.Snapshots.deleteRecursively(work.resolve(s"input-${k - 1}"))
      s
    }
    val warmUpS = {
      val t0 = System.nanoTime()
      wl.warmUp()
      secondsSince(t0)
    }
    spark.catalog.clearCache()
    // before the measured window, so its collections are not among the
    // jvm counters
    val liveHeapMb = jvm.liveMb()
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val firstOut = mutable.Map.empty[String, (Int, Seq[Long])]
    /** Run operation `i` and check its output; None when it passed. */
    def attempt(i: Int)(body: => Seq[Long]): Option[String] = try {
      val out = body
      wl.check(i, out)
      val key = wl.outputKey(i)
      firstOut.get(key) match {
        case Some((j, o)) if o != out => throw new CheckFailed(s"output $out differs from op $j's $o")
        case Some(_) =>
        case None => firstOut(key) = (i, out)
      }
      None
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] op $i failed: $e")
        Some(e.toString)
    }
    val jvmStart = jvm.snapshot()
    val t0 = System.nanoTime()
    var unitStart = t0
    var lastUnitS = 0.0
    var i = 0
    // A unit is the work between two points where the run may stop; the run
    // stops at the one nearest to `seconds`. A traced run needs at least one
    // untraced and one traced operation.
    def goOn: Boolean = i < (if (traced) 2 else 1) || !wl.mayStopAfter(i - 1) ||
      secondsSince(t0) + lastUnitS / 2 < seconds
    while (goOn) {
      // with tracing, untraced and traced operations alternate
      val isTraced = traced && i % 2 == 1
      val before = jvm.snapshot()
      var wall = Double.NaN
      def timed(body: => Seq[Long]): Seq[Long] = {
        val s = System.nanoTime()
        val out = body
        wall = secondsSince(s)
        out
      }
      val error = attempt(i) {
        tracer match {
          case None => timed(wl.run(i))
          case Some(t) =>
            t.newOperation()
            // materialised layers are cached uncompressed: compressing
            // millions of rows would dominate the layers' self times
            if (isTraced) try {
              spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
              t.span(s"$name.op", i, "traced")(timed(wl.runTraced(i, t)))
            } finally spark.conf.unset("spark.sql.inMemoryColumnarStorage.compressed")
            else t.span(s"$name.op", i, "untraced")(timed(wl.run(i)))
        }
      }
      spark.catalog.clearCache()
      val after = jvm.snapshot()
      ops += Map("i" -> i, "wall_s" -> wall, "units" -> wl.units(i), "traced" -> isTraced,
        "probe" -> false, "ok" -> error.isEmpty, "error" -> error,
        "jvm" -> after.map { case (k, v) => k -> (if (k.startsWith("heap")) v else v - before(k)) })
      if (wl.mayStopAfter(i)) {
        lastUnitS = secondsSince(unitStart)
        unitStart = System.nanoTime()
      }
      i += 1
    }
    val measuredS = secondsSince(t0)
    val jvmEnd = jvm.snapshot()
    // traced runs only: the peak live heap of one more operation, after
    // the measured window, with a full collection every PeakSampleMs
    val peakHeapMb = if (!traced) None else {
      val (error, peak) = jvm.peakLiveMb(PeakSampleMs)(attempt(i)(wl.run(i)))
      ops += Map("i" -> i, "wall_s" -> Double.NaN, "units" -> wl.units(i), "traced" -> false,
        "probe" -> true, "ok" -> error.isEmpty, "error" -> error)
      Some(peak)
    }
    val rt = Runtime.getRuntime
    val result = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "generate_s" -> generateS, "warm_up_s" -> warmUpS, "measured_s" -> measuredS, "ops" -> ops,
      "outputs" -> firstOut.map { case (k, (_, o)) => k -> o },
      "live_heap_mb" -> liveHeapMb, "peak_heap_mb" -> peakHeapMb,
      "jvm_start" -> jvmStart, "jvm_end" -> jvmEnd,
      "env" -> Map(
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "max_heap_mb" -> rt.maxMemory / 1048576.0,
        "available_processors" -> rt.availableProcessors,
        "spark_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sorted.toMap))
    val trace = tracer.map(t => Map("slots" -> cores, "spans" -> t.spansJson, "plan" -> t.plan))
    (result, trace)
  }
}
