package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{PerfbenchBridge, SparkSession}

/** Per-op counts, keyed by `<layer>.<metric>`. */
final class Counters {
  val values: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v
  def set(k: String, v: Double): Unit = values(k) = v
}

/** Outcome of one op's output check. */
final case class Check(ok: Boolean, recall: Double, falseMerges: Long,
    detail: String)

/** What every workload gives the harness. Timed ops are numbered from 1,
  * warm-up ops from 0 downwards; each op writes under its own directory. */
trait Workload {
  /** Generates the inputs and builds any corpus state (timed as setup). */
  def setup(): Unit
  /** Untimed per-op preparation (e.g. the op's new batch). */
  def prepare(op: Int): Unit = ()
  /** The op through the engine's public entry point (tracing off). */
  def run(op: Int): Unit
  /** The same op, layer by layer, with spans around each call. */
  def traced(op: Int, t: Tracer, c: Counters): Unit
  /** Untimed warm-up ops before the window: a short op is still speeding up
    * while the JIT compiles the driver's planning code. */
  def warmupOps: Int = 1
  /** Timed ops the window runs at least: a short op needs several for a
    * steady median. */
  def minOps: Int = 1
  /** Input items one op processes. */
  def items(op: Int): Long
  /** Replaces the op's output with a wrong one (self-check mode). */
  def corrupt(op: Int): Unit
  def check(op: Int): Check
}

object Harness {

  final case class Args(workload: String = null, seed: Long = 1L,
      seconds: Double = 10, trace: Boolean = false, work: String = null,
      result: String = null, threads: Int = 4, smoke: Boolean = false)

  private def parse(a: List[String], acc: Args): Args = a match {
    case Nil => acc
    case "--workload" :: v :: r => parse(r, acc.copy(workload = v))
    case "--seed" :: v :: r => parse(r, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: r => parse(r, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: r => parse(r, acc.copy(trace = v == "1"))
    case "--work" :: v :: r => parse(r, acc.copy(work = v))
    case "--result" :: v :: r => parse(r, acc.copy(result = v))
    case "--threads" :: v :: r => parse(r, acc.copy(threads = v.toInt))
    case "--smoke" :: r => parse(r, acc.copy(smoke = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** Drops every cached frame and RDD (localCheckpoint blocks included, which
    * `clearCache` alone leaves behind), so each op starts from one state. */
  def resetCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak heap still in use after each garbage collection while an op
    * runs. Sampling the raw used heap instead reads wherever G1 happens to
    * be in its young-generation cycle, which swings by a third between
    * identical runs. */
  final class HeapPeak extends javax.management.NotificationListener {
    @volatile var peak = 0L
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: javax.management.NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(this, null, null))

    override def handleNotification(n: javax.management.Notification,
        handback: Any): Unit = {
      import com.sun.management.GarbageCollectionNotificationInfo
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak = math.max(peak, used)
      }
    }

    /** Stops listening; returns the peak, or the current used heap when no
      * collection ran during the op. */
    def finish(): Long = {
      emitters.foreach(_.removeNotificationListener(this))
      if (peak > 0) peak
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
  }

  /** CPU doing the op's work: every executor task plus the driver thread
    * that plans and submits the jobs. JIT compiler and GC threads are left
    * out: in a two-minute JVM they burn more CPU than the tasks and swing
    * from run to run. */
  private def cpuNs(listener: SpanListener): Long = {
    PerfbenchBridge.drain(SparkSession.active.sparkContext)
    listener.totalCpuNs +
      ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
  }

  final case class OpRecord(op: Int, traced: Boolean, wall: Double,
      cpu: Double, peakMb: Double, items: Long, check: Check,
      layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList, Args())
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${args.threads}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, args.work, args.seed, args.threads, args.smoke)
    val w: Workload = args.workload match {
      case "incremental_merge" => new IncrementalMerge(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the one listener of the run: in untraced ops it only sums task CPU
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val tracer =
      if (args.trace) Some(new Tracer(spark.sparkContext, listener)) else None
    val records = mutable.ArrayBuffer[OpRecord]()

    def stamp(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.nanoTime() - t0) / 1e9}%.2fs")
    stamp("session")
    w.setup()
    stamp("inputs")
    // warm-up ops are numbered below zero so the timed ops start at 1
    (1 - w.warmupOps to 0).foreach { op =>
      w.prepare(op)
      resetCaches(spark)
      w.run(op)
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] setup $setupS%.2fs")

    // the measured window: untraced ops, alternating with traced ones in a
    // traced run so both walls come from the same window
    val window0 = System.nanoTime()
    def elapsed = (System.nanoTime() - window0) / 1e9
    var op = 1
    def count(traced: Boolean) = records.count(_.traced == traced)
    // self-check mode: one clean op, then one corrupted op (traced in a
    // traced run) whose check must fail
    def more =
      if (args.smoke) records.size < 2
      else count(false) < w.minOps || (tracer.nonEmpty && count(true) == 0) ||
        elapsed < args.seconds
    while (more) {
      val traced = tracer.nonEmpty && op % 2 == 0
      w.prepare(op)
      resetCaches(spark)
      val counters = new Counters
      val heap = new HeapPeak
      val c0 = cpuNs(listener)
      val s0 = System.nanoTime()
      // an op that throws is a failed op, not a failed run
      val (root, thrown) =
        try {
          val r = tracer.filter(_ => traced).map(t =>
            t.op(op)(w.traced(op, t, counters))._2)
          if (!traced) w.run(op)
          (r, None)
        } catch { case e: Exception => (None, Some(e)) }
      val wall = (tracer, root) match {
        case (Some(t), Some(r)) => Layers.wall(t, r)
        case _ => (System.nanoTime() - s0) / 1e9
      }
      val cpu = (cpuNs(listener) - c0) / 1e9
      val peak = heap.finish() / 1048576.0
      val chk = thrown match {
        case Some(e) => Check(ok = false, Double.NaN, 0L, s"op threw: $e")
        case None =>
          if (args.smoke && op == 2) w.corrupt(op)
          try w.check(op)
          catch { case e: Exception =>
            Check(ok = false, Double.NaN, 0L, s"check threw: $e") }
      }
      val layers = (tracer, root) match {
        case (Some(t), Some(r)) => Layers.of(t, r, counters, args.threads)
        case _ => Map.empty[String, Double]
      }
      records += OpRecord(op, traced, wall, cpu, peak, w.items(op), chk, layers)
      System.err.println(f"[perfbench] op $op traced=$traced wall=$wall%.2fs " +
        s"check: ${chk.detail}")
      op += 1
    }
    writeResult(args, spark, setupS, records.toSeq, tracer)
    spark.stop()
  }

  private def writeResult(args: Args, spark: SparkSession, setupS: Double,
      records: Seq[OpRecord], tracer: Option[Tracer]): Unit = {
    val untraced = records.filter(!_.traced)
    val metrics = mutable.LinkedHashMap[String, Double]()
    metrics("setup_s") = setupS
    metrics("op_s_p50") = median(untraced.map(_.wall))
    metrics("images_per_s") = median(untraced.map(r => r.items / r.wall))
    metrics("cpu_s_per_op") = median(untraced.map(_.cpu))
    metrics("peak_heap_mb") = median(untraced.map(_.peakMb))
    metrics("pair_recall") = records.map(_.check.recall).filter(!_.isNaN)
      .reduceOption(_ min _).getOrElse(Double.NaN)
    val layers = mutable.LinkedHashMap[String, Double]()
    val traced = records.filter(_.traced)
    if (traced.nonEmpty) {
      traced.flatMap(_.layers.keys).distinct.foreach { k =>
        layers(k) = median(traced.flatMap(_.layers.get(k)))
      }
      layers("op.traced_wall_s") = median(traced.map(_.wall))
      layers("op.untraced_wall_s") = metrics("op_s_p50")
      layers("op.trace_overhead_s") =
        layers("op.traced_wall_s") - layers("op.untraced_wall_s")
      layers("op.count") = records.size
    }
    layers("check.false_merge_pairs") =
      records.map(_.check.falseMerges).max.toDouble
    val ops = records.map { r =>
      Json.obj("op" -> r.op, "traced" -> r.traced, "wall_s" -> r.wall,
        "cpu_s" -> r.cpu, "peak_heap_mb" -> r.peakMb, "items" -> r.items,
        "ok" -> r.check.ok, "recall" -> r.check.recall,
        "false_merge_pairs" -> r.check.falseMerges, "detail" -> r.check.detail)
    }
    val spans = tracer.map(t => t.spans.map { s =>
      val wk = t.work(s.id)
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> (s.start - t.spans.head.start) / 1e6,
        "end_ms" -> (s.end - t.spans.head.start) / 1e6,
        "jobs" -> wk.jobs, "task_cpu_s" -> wk.cpuS)
    }.toSeq).getOrElse(Nil)
    val heapMax = Runtime.getRuntime.maxMemory / 1048576
    val context = Json.obj("workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace,
      "threads" -> args.threads, "heap_max_mb" -> heapMax,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    val json = Json.obj(
      "context" -> context,
      "attempted" -> records.size,
      "failed" -> records.count(!_.check.ok),
      "metrics" -> Json.obj(metrics.toSeq: _*),
      "layers" -> Json.obj(layers.toSeq: _*),
      "ops" -> Json.arr(ops: _*),
      "spans" -> Json.arr(spans: _*))
    Files.writeString(Paths.get(args.result), json.s)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))
  def arr(xs: Any*): Raw = Raw(xs.map(value).mkString("[", ", ", "]"))
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case Raw(s) => s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case null => "null"
    case other => str(other.toString)
  }
}

/** Shared state of a run. */
final case class Ctx(spark: SparkSession, work: String, seed: Long,
    threads: Int, smoke: Boolean) {
  def dir(name: String): String = s"$work/$name"
}

/** Pair counts over a (truth, predicted) contingency table: C(n,2) summed
  * per cell, per truth class and per predicted cluster — no pair list. */
object Contingency {
  private def pairs(n: Int): Long = n.toLong * (n - 1) / 2

  /** @param rows (truth class, predicted cluster) per row
    * @return (pair recall, false-merge pairs) */
  def apply(rows: Seq[(Long, Long)]): (Double, Long) = {
    def sum[K](by: ((Long, Long)) => K) =
      rows.groupBy(by).values.map(v => pairs(v.size)).sum
    val together = sum(identity)
    val truthPairs = sum(_._1)
    val recall = if (truthPairs == 0) 1.0 else together.toDouble / truthPairs
    (recall, sum(_._2) - together)
  }
}
