package perfbench

import scala.collection.mutable

/** Per-layer figures of one traced op, from its spans, the work the listener
  * charged to them, and the op's counters. */
object Layers {
  val Engine: Seq[String] = Seq("ingest", "features", "candidates", "verify",
    "cluster", "tableio", "incremental")

  /** Traced op wall without the benchmark's own counting spans. */
  def wall(t: Tracer, root: Span): Double = {
    val bench = t.spansOf(root.op).filter(_.layer == "bench")
      .map(s => s.end - s.start).sum
    (root.end - root.start - bench) / 1e9
  }

  def of(t: Tracer, root: Span, c: Counters, threads: Int): Map[String, Double] = {
    val all = t.spansOf(root.op)
    val spans = all.filter(s => s.layer != "bench" && s.id != root.id)
    val byId = all.map(s => s.id -> s).toMap
    val m = mutable.LinkedHashMap[String, Double]()
    def dur(s: Span) = (s.end - s.start) / 1e9

    Engine.foreach { layer =>
      val mine = spans.filter(_.layer == layer)
      val w = new Work
      mine.foreach(s => w.add(t.work(s.id)))
      m(s"$layer.self_s") = mine.map(s => t.selfNs(s, all)).sum / 1e9
      // wall: the layer's outermost spans (a span nested in one of the same
      // layer is already inside its parent's duration)
      m(s"$layer.wall_s") = mine
        .filter(s => byId.get(s.parent).forall(_.layer != layer)).map(dur).sum
      m(s"$layer.task_cpu_s") = w.cpuS
      m(s"$layer.gc_s") = w.gcMs / 1e3
      m(s"$layer.jobs") = w.jobs.toDouble
      m(s"$layer.shuffle_write_mb") = w.shuffleWriteBytes / 1e6
      m(s"$layer.spill_mb") = w.spillBytes / 1e6
    }
    m("tableio.read_s") = spans.filter(_.name.startsWith("tableio.read."))
      .map(dur).sum
    m("tableio.write_s") = spans
      .filter(s => s.layer == "tableio" && !s.name.startsWith("tableio.read."))
      .map(dur).sum
    Seq("pairs", "fold", "merge").foreach { k =>
      m(s"incremental.${k}_s") =
        spans.filter(_.name == s"incremental.$k").map(dur).sum
    }
    spans.filter(_.layer == "query").foreach { s =>
      val w = t.work(s.id)
      m(s"${s.name}.wall_s") = dur(s)
      m(s"${s.name}.task_cpu_s") = w.cpuS
      m(s"${s.name}.jobs") = w.jobs.toDouble
    }
    val op = new Work
    (spans :+ root).foreach(s => op.add(t.work(s.id)))
    val opWall = wall(t, root)
    m("driver.jobs") = op.jobs.toDouble
    m("driver.stages") = op.stages.toDouble
    m("driver.tasks") = op.tasks.toDouble
    m("driver.busy_share") = op.cpuS / (threads * opWall)
    m("driver.shuffle_write_mb") = op.shuffleWriteBytes / 1e6
    m("driver.spill_mb") = op.spillBytes / 1e6
    m("driver.task_cpu_s") = op.cpuS
    c.values.foreach { case (k, v) => m(k) = v }
    m.toMap
  }
}
