package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, md5}

/** One workload: inputs made from the seed, an untimed warm-up, timed
  * cycles, and end-of-run checks. */
trait Workload {
  /** Writes a fresh copy of the inputs under `dir` and makes it the live one. */
  def setup(dir: String, call: Recorder#Call): Unit
  /** Untimed first use of the live inputs (and any seeding of stores). */
  def warmup(rec: Recorder): Unit
  def cycle(rec: Recorder): Unit
  /** False once the generated inputs are used up. */
  def more: Boolean = true
  def verify(rec: Recorder): Unit
  /** Workload-specific figures for the trace file. */
  def sidecar: Map[String, Double]
  /** Set when the launcher must compare results with DuckDB oracles. */
  def oracle: Option[Oracle] = None
}

/** Where the warm-up pass left its inputs, results and oracle SQL. */
final case class Oracle(tables: String, results: String, sql: String)

/** The JVM half of the benchmark (the launcher is `perfbench/run.py`).
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  * --data DIR [--size tiny]. Writes one JSON object to FILE: the metrics, the op
  * counts, each failure, the host calibration and the Spark settings. */
object Main {
  /** End-to-end metrics, all in seconds. */
  val EndToEnd: Seq[String] = Seq("setup_s", "cycle_s", "op_p50_s")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val work = o("work")
    val tiny = o.get("size").contains("tiny")
    val cores = Runtime.getRuntime.availableProcessors

    // Session settings of the engine's own bench (Bench.runSuite), at local[nproc].
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val wl: Workload = o("workload") match {
      case "weekly_pipeline" => new Weekly(spark, seed, tiny)
      case "registry_mix" => new Registry(spark, seed, o("data"), tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new Recorder(spark)

    // Set-up runs once. A traced run prices the tracing by tracing in the
    // pattern T U U T, which a steady warming trend does not bias, so it
    // repeats the set-up after a first, cold one that is left out of that
    // comparison; the last copy stays live.
    def tracedAt(i: Int): Boolean = trace && (i % 4 == 0 || i % 4 == 3)
    val setupReps = if (trace) 5 else 1
    val setups = (0 until setupReps).map { i =>
      val traced = i > 0 && tracedAt(i - 1)
      rec.setTracing(traced)
      val r = rec.op(s"setup$i")(call => wl.setup(s"$work/setup$i", call))
      if (i < setupReps - 1) delete(new File(s"$work/setup$i"))
      (r.seconds, traced, i)
    }
    rec.setTracing(false)
    rec.phase = "warmup"
    val w0 = System.nanoTime()
    wl.warmup(rec)
    val warmS = (System.nanoTime() - w0) / 1e9

    // Timed cycles; a traced run traces them in the same pattern.
    rec.phase = "timed"
    Probe.resetHeapPeak()
    val cycles = ArrayBuffer.empty[(Double, Boolean)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (wl.more && (elapsed < seconds || cycles.size < (if (trace) 4 else 1))) {
      val traced = tracedAt(cycles.size)
      rec.setTracing(traced)
      rec.cycle = cycles.size
      val c0 = System.nanoTime()
      wl.cycle(rec)
      cycles += (((System.nanoTime() - c0) / 1e9, traced))
    }
    val timedS = elapsed
    rec.setTracing(false)
    val heapPeak = Probe.heapPeakMb()
    rec.phase = "check"
    rec.cycle = -1
    val v0 = System.nanoTime()
    wl.verify(rec)
    val checkS = (System.nanoTime() - v0) / 1e9
    // Host calibration last, on a warm JVM, so JIT and codegen warm-up
    // do not land in it.
    val c0 = System.nanoTime()
    val host = calibrate(spark)
    System.err.println("[perfbench] cycles: " + cycles.map(c => f"${c._1}%.2f").mkString(" ") + " s")
    System.err.println("[perfbench] timed ops: " +
      rec.ops.filter(_.phase == "timed").map(o => f"${o.name}=${o.seconds}%.2f").mkString(" "))
    System.err.println(f"[perfbench] phases: session $sessionS%.2f s, " +
      f"set-ups ${setups.map(_._1).map(x => f"$x%.2f").mkString("/")} s, warm-up $warmS%.2f s, " +
      f"timed $timedS%.2f s, checks $checkS%.2f s, calibration ${(System.nanoTime() - c0) / 1e9}%.2f s")

    val timed = rec.ops.filter(_.phase == "timed")
    def e2e(traced: Boolean): Map[String, Double] = {
      val ops = timed.filter(_.traced == traced).map(_.seconds).toSeq
      val reps = setups.filter(s => s._2 == traced && (!trace || s._3 > 0)).map(_._1)
      Map("setup_s" -> (sessionS + Stats.median(reps) + warmS),
        "cycle_s" -> Stats.median(cycles.filter(_._2 == traced).map(_._1).toSeq),
        "op_p50_s" -> Stats.median(ops))
    }
    val untraced = e2e(false)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEnd.map(k => (k, untraced(k), "s"))
      else Layers.perCycle(rec, cores, heapPeak, host) ++ {
        val traced = e2e(true)
        EndToEnd.map(k => (s"trace.overhead_$k", traced(k) - untraced(k), "s"))
      }

    val failures = rec.ops.flatMap(r => r.error.map(e => s"${r.name}: $e"))
    val (tailV, tailP, tailN) = Stats.tail(timed.filterNot(_.traced).map(_.seconds).toSeq)
    System.err.println(f"[perfbench] ${cycles.size} cycles, ${timed.size} timed ops; " +
      f"highest percentile with 10 ops beyond it: p$tailP%.1f of $tailN ops = $tailV%.4f s")
    val settings = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || Set("spark.master", "spark.local.dir").contains(k) }

    val out = new PrintWriter(o("out"), "UTF-8")
    out.println(Json.obj(Seq(
      "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "attempted" -> rec.ops.size.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "cycles" -> cycles.size.toString,
      "timed_ops" -> timed.size.toString,
      "host" -> Json.obj(host.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "settings" -> Json.obj(settings.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
      "cores" -> cores.toString,
      "oracle" -> wl.oracle.fold("null")(q => Json.obj(Seq("tables" -> Json.str(q.tables),
        "results" -> Json.str(q.results), "sql" -> Json.str(q.sql))))
    )))
    out.close()
    o.get("trace-out").filter(_ => trace).foreach(p => Layers.writeTrace(p, rec, wl.sidecar))
    spark.stop()
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** The three burns of the engine bench's host calibration, scaled down:
    * single-core MD5, parallel md5() rows, and a fixed shuffle. */
  def calibrate(spark: SparkSession): Map[String, Double] = {
    def time(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    def md5Burn(n: Int): Unit = {
      val md = java.security.MessageDigest.getInstance("MD5")
      var acc = 0
      (0 until n).foreach(i => acc ^= md.digest(s"cal$i$acc".getBytes("US-ASCII"))(0))
      if (acc == 94) System.err.print("")
    }
    val cores = spark.sparkContext.defaultParallelism
    def parBurn(n: Long): Unit = spark.range(0L, n, 1L, cores)
      .select(md5(col("id").cast("string")).as("h")).write.format("noop").mode("overwrite").save()
    def shuffleBurn(n: Long): Unit = spark.range(0L, n, 1L, cores).repartition(2 * cores, col("id"))
      .agg(expr("bit_xor(xxhash64(id))")).write.format("noop").mode("overwrite").save()
    md5Burn(200000); parBurn(200000L); shuffleBurn(200000L)
    Map("host.md5_1core_s" -> time(md5Burn(1000000)), "host.md5_par_s" -> time(parBurn(2000000L)),
      "host.shuffle_s" -> time(shuffleBurn(2000000L)))
  }
}

object Stats {
  /** The median, as Python's statistics.median computes it. */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count); below eleven samples there is
    * none and the maximum is given. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    if (xs.isEmpty) return (Double.NaN, Double.NaN, 0)
    val s = xs.sorted
    val idx = if (s.size >= 11) s.size - 11 else s.size - 1
    (s(idx), 100.0 * (idx + 1) / s.size, s.size)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
