package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one Spark session at a time.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--fingerprints <file>] [--per-layer name=unit,...]
  *
  * Order of a run: build the session; write the seeded inputs (not part
  * of set-up time); a warm-up pass; timed operations in a
  * closed loop with one client for `--seconds`; then the output checks,
  * outside every timed region. With `--trace 1` the loop runs half
  * untraced and half with the layer listeners attached, then probes each
  * layer once. The last stdout line is `PERFBENCH {json}`.
  */
object Main {

  val DefaultSeed = 1L

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean over the operations of each one's median wall: every
    * query of a rotation weighs the same whatever its cost, and the value
    * does not jump between the cheap and the costly queries the way a
    * median over a mixed rotation does. With one operation it is that
    * operation's median.
    */
  def opSeconds(walls: Seq[(String, Double)]): Double = {
    val meds = walls.groupBy(_._1).values.map(w => median(w.map(_._2)))
    math.exp(meds.map(math.log).sum / meds.size)
  }

  /** The p90 of `walls` if at least ten samples lie beyond it, and the
    * number that do.
    */
  def p90(walls: Seq[Double]): (Option[Double], Int) = {
    val q = quantile(walls, 0.9)
    val beyond = walls.count(_ > q)
    (if (beyond >= 10) Some(q) else None, beyond)
  }

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val wl: Workload = a("workload") match {
      case "sparkify_elt" => new SparkifyElt(work, seed)
      case "star_analytics" => new StarAnalytics(work, seed, Fingerprints.load(a.get("fingerprints")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Per-layer metric names and units, as BENCHMARK.json lists them.
    val perLayer = a.getOrElse("per-layer", "").split(",").toSeq.filter(_.nonEmpty).map { kv =>
      val Array(k, u) = kv.split("=", 2); k -> u
    }

    val checks = new Checks(wl)
    // Set-up: the session build + register, then a warm-up pass of
    // `warmupOps` operations round robin; the first rotation's outputs are
    // the check's references. The seeded inputs are written between the
    // two, and their time is left out of setup_s.
    val spark = session(cpus, work)
    graft.expressions.GraftFunctions.register(spark)
    val p0 = System.nanoTime()
    wl.prepare(spark)
    val prepareS = (System.nanoTime() - p0) / 1e9
    wl.detail("prepare_s") = prepareS.toString
    val codegen0 = Layers.globals()
    val pass = (0 until wl.warmupOps).map { i =>
      checks.run(spark, wl.ops(i % wl.ops.size), warmup = true, check = i < wl.ops.size)
    }
    val setupGlobals = Layers.globals().map { case (k, v) => k -> (v - codegen0(k)) }
    // setup_s: process start to the first timed operation, less the inputs.
    val setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 - prepareS

    // Timed closed loop. `loop` runs whole rotations of the ops until
    // their timed walls add up to `budget` seconds, so every run times
    // each operation equally often, and returns the per-op walls.
    var next = 0
    def loop(budget: Double, minOps: Int, onOp: (String, Double) => Unit = (_, _) => ()): Seq[(String, Double)] = {
      val out = mutable.ArrayBuffer.empty[(String, Double)]
      while (out.map(_._2).sum < budget || out.size < minOps || out.size % wl.ops.size != 0) {
        val op = wl.ops(next % wl.ops.size)
        next += 1
        val wall = checks.run(spark, op, warmup = false)
        onOp(op, wall)
        out += op -> wall
      }
      out.toSeq
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      val walls = loop(seconds, wl.minOps)
      metrics("op_s") = (opSeconds(walls), "s")
      metrics("setup_s") = (setupS, "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MiB")
      wl.detail("walls") = walls.map { case (o, w) => s"""["$o",$w]""" }.mkString("[", ",", "]")
      wl.detail("warmup_walls") = pass.mkString("[", ",", "]")
    } else {
      // Each half runs at least half the workload's minimum, in whole rotations.
      val half = math.max(1, wl.minOps / 2 / wl.ops.size) * wl.ops.size
      val plain = loop(seconds / 2, half)
      val spans = new Spans
      val layers = new Layers(spark)
      val blocks = mutable.ArrayBuffer.empty[Long]
      val tB = System.nanoTime()
      val traced = loop(seconds / 2, half, (op, wall) => {
        spans.record(op, "run", wall)
        blocks += layers.blockBytes()
      })
      val wallB = (System.nanoTime() - tB) / 1e9
      val c = layers.snapshot()
      val n = traced.size.toDouble
      def per(k: String, scale: Double = 1.0) = c.getOrElse(k, 0L) / scale / n
      metrics("trace.overhead_frac") =
        (opSeconds(traced) / opSeconds(plain) - 1, "ratio")
      Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.failed_tasks",
        "scheduler.stage_retries").foreach(k => metrics(k) = (per(k), "count"))
      Seq("executor.run", "executor.cpu", "executor.gc").foreach(k => metrics(s"${k}_s") = (per(s"${k}_ns", 1e9), "s"))
      metrics("executor.busy_frac") = (c.getOrElse("executor.run_ns", 0L) / 1e9 / (wallB * cpus), "ratio")
      Seq("shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes").foreach(k => metrics(k) = (per(k), "bytes"))
      Seq("analysis", "optimization", "planning").foreach(p =>
        metrics(s"catalyst.${p}_s") = (per(s"catalyst.${p}_ns", 1e9), "s"))
      metrics("codegen.compiles") = (per("codegen.compiles"), "count")
      metrics("codegen.compile_s") = (per("codegen.compile_ns", 1e9), "s")
      metrics("codegen.setup_compiles") = (setupGlobals("codegen.compiles").toDouble, "count")
      metrics("codegen.setup_compile_s") = (setupGlobals("codegen.compile_ns") / 1e9, "s")
      metrics("storage.block_bytes") = (blocks.lastOption.getOrElse(0L).toDouble, "bytes")
      metrics("storage.block_growth_bytes") =
        ((blocks.lastOption.getOrElse(0L) - blocks.headOption.getOrElse(0L)).toDouble, "bytes")
      layers.detach()
      checks.finish()
      wl.traced(spark, plain ++ traced, spans, metrics, checks)
      wl.detail("spans") = spans.toJson
      metrics("error_rate") = (checks.failed.toDouble / math.max(1, checks.attempted), "ratio")
      // Layers the workload does not load read 0, so every traced run
      // prints the same metric set; any other metric it fails to produce
      // stays missing, and run.py refuses the run.
      perLayer.foreach { case (k, u) => if (!metrics.contains(k) && wl.idle(k)) metrics(k) = (0.0, u) }
    }
    val c0 = System.nanoTime()
    checks.finish()
    wl.detail("check_s") = ((System.nanoTime() - c0) / 1e9).toString
    wl.detail("references") = wl.references.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    wl.detail("setup_codegen") = setupGlobals.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    wl.detail("inputs") = wl.inputProps.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    wl.detail("errors") = checks.errors.take(20).map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ") + "\"").mkString("[", ",", "]")
    spark.stop()

    val m = metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    val d = wl.detail.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""PERFBENCH {"correct":${checks.failed == 0},"attempted":${checks.attempted},""" +
      s""""failed":${checks.failed},"metrics":$m,"detail":$d}""")
  }
}

/** Runs and times operations; checks their outputs after the timed
  * loop. Each operation's signature step (an untimed second execution for
  * the fingerprinted queries) is deferred to `finish`, which runs them on
  * a small pool and compares in run order, so warm-up references come
  * first. Operations run with `check = false` are neither checked nor
  * counted as attempted, and neither is a warm-up output the workload has
  * nothing to compare with (see `Workload.checks`).
  */
final class Checks(wl: Workload) {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  private val pending = mutable.ArrayBuffer.empty[(String, Boolean, Either[Throwable, () => String])]

  def record(err: Option[String]): Unit = {
    attempted += 1
    err.foreach { e => failed += 1; errors += e }
  }

  /** Returns the wall seconds of the timed part alone. */
  def run(spark: SparkSession, op: String, warmup: Boolean, check: Boolean = true): Double = {
    val t0 = System.nanoTime()
    val out = try Right(wl.run(spark, op)) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    if (check || out.isLeft) pending += ((op, warmup, out))
    wl.cleanup(op)
    wall
  }

  def finish(): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def fail(what: String, e: Throwable) = Left(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    val sigs = pending.toSeq.map { case (op, _, out) => Future(out match {
      case Left(e) => fail(op, e)
      case Right(sig) => try Right(sig()) catch { case e: Throwable => fail(s"$op check", e) }
    }) }.map(Await.result(_, Duration.Inf))
    pool.shutdown()
    pending.zip(sigs).foreach {
      case ((_, _, _), Left(err)) => record(Some(err))
      case ((op, warmup, _), Right(sig)) =>
        val err = wl.check(op, sig, warmup)
        if (err.nonEmpty || wl.checks(warmup)) record(err)
    }
    pending.clear()
  }
}

/** Committed output fingerprints of the default seed, one per operation. */
object Fingerprints {
  def load(path: Option[String]): Map[String, String] = path.map(Paths.get(_)).filter(Files.exists(_)).map { p =>
    val pair = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
    pair.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2)).toMap
  }.getOrElse(Map.empty)
}
