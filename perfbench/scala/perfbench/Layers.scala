package perfbench

import java.io.PrintWriter

/** Per-layer figures of a traced run, from the spans of its traced cycles. */
object Layers {
  private val SinkCalls = Set("query.exec", "exec.noop")

  /** Per traced cycle: the probe counters summed over its ops, the time in
    * public engine calls and in result sinks, parallel efficiency and the
    * worst stage skew; each reported as the median over traced cycles. */
  def perCycle(rec: Recorder, cores: Int, heapPeakMb: Double,
      host: Map[String, Double]): Seq[(String, Double, String)] = {
    val opById = rec.ops.map(o => o.id -> o).toMap
    val timedRoots = rec.spans.filter(s => s.parent == -1 &&
      opById.get(s.op).exists(o => o.phase == "timed" && o.traced))
    val children = rec.spans.filter(_.parent != -1).groupBy(_.parent)
    val perCycle = timedRoots.groupBy(s => opById(s.op).cycle).values.map { roots =>
      val wall = roots.map(_.seconds).sum
      val direct = roots.flatMap(r => children.getOrElse(r.id, Nil))
      val sums = Probe.Counters.map(k => k -> roots.map(_.counters(k)).sum).toMap
      sums ++ Map(
        "op.call_s" -> direct.filterNot(c => SinkCalls(c.name)).map(_.seconds).sum,
        "op.sink_s" -> direct.filter(c => SinkCalls(c.name)).map(_.seconds).sum,
        "exec.efficiency" -> sums("exec.run_s") / (wall * cores),
        "exec.skew" -> roots.map(_.counters("exec.skew")).max)
    }.toSeq
    def med(k: String) = Stats.median(perCycle.map(_(k)))
    (Seq("op.call_s" -> "s", "op.sink_s" -> "s") ++ Probe.Units ++
      Seq("exec.efficiency" -> "ratio", "exec.skew" -> "ratio"))
      .map { case (k, unit) => (k, med(k), unit) } ++
      Seq(("jvm.heap_peak_mb", heapPeakMb, "MB")) ++
      host.toSeq.sortBy(_._1).map { case (k, v) => (k, v, "s") }
  }

  /** Writes every span (with its self time: its duration less the time
    * its child spans cover), the median time of each call and op name,
    * and the workload's own figures. */
  def writeTrace(path: String, rec: Recorder, sidecar: Map[String, Double]): Unit = {
    val childSecs = rec.spans.filter(_.parent != -1).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    def self(s: Span) = s.seconds - childSecs.getOrElse(s.id, 0.0)
    val opById = rec.ops.map(o => o.id -> o).toMap
    val timed = rec.spans.filter(s => opById.get(s.op).exists(_.phase == "timed"))
    def summary(spans: Seq[Span]) = Json.obj(spans.groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, ss) => n -> Json.obj(Seq("n" -> ss.size.toString,
        "median_s" -> Json.num(Stats.median(ss.map(_.seconds).toSeq)),
        "median_self_s" -> Json.num(Stats.median(ss.map(self).toSeq))))
    })
    val out = new PrintWriter(path, "UTF-8")
    out.println(Json.obj(Seq(
      "calls" -> summary(timed.filter(_.parent != -1).toSeq),
      "ops" -> summary(timed.filter(_.parent == -1).toSeq),
      "workload" -> Json.obj(sidecar.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> rec.spans.map { s =>
        val o = opById.get(s.op)
        Json.obj(Seq("op" -> s.op.toString, "id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> Json.str(s.name), "phase" -> Json.str(o.fold("")(_.phase)),
          "cycle" -> o.fold("-1")(_.cycle.toString),
          "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
          "self_s" -> Json.num(self(s)),
          "counters" -> Json.obj(s.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
      }.mkString("[\n", ",\n", "]"))))
    out.close()
  }
}
