package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.BenchBus

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: one process, one `GraftSession` at a fixed core
  * count, driving the engine only through its public entry points
  * (`SparkEntry.queries`, `executedPlan`, a full-output noop write,
  * `ScriptEngine.run`). Writes one JSON result file; `perfbench/run.py`
  * checks the answers and reports the metrics.
  *
  * Usage: perfbench.Harness --workload W --data DIR --work DIR --seconds S
  *          --trace 0|1 --cores N --scripts DIR
  */
object Harness {
  val OlapOps: Seq[String] = Seq(
    "q10_groupby", "q12_count_distinct", "q15_join_merge", "q16_join_hash",
    "q21_cube", "q55_cube_wide", "q24_cube_count_distinct", "q26_duple_cube",
    "q28_topn", "q83_join_asof", "q131_kmv_distinct", "q134_quantile_sketch",
    "q146_kmv_setops", "q166_percent_rank", "q190_scd_join")
  val ScriptOps: Seq[(String, Map[String, String])] = Seq(
    "daily_report" -> Map("ENV" -> "prod"),
    "incremental" -> Map.empty)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val work = opt("work")
    val traced = opt("trace") == "1"
    val result = new Run(opt("data"), work, opt("cores"), opt("seconds").toDouble, traced,
      opt("scripts"))
    val out = workload match {
      case "olap-x10" => result.warm(OlapOps)
      case "script-cold" => result.cold(ScriptOps)
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(work, "result.json"), Json(out + ("workload" -> workload)))
  }
}

final class Run(data: String, work: String, cores: String, seconds: Double, traced: Boolean,
                scriptDir: String) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private def sinceStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val tracer = new Tracer
  private var tracing = false
  private var workloadSpan: Span = _
  private val failures = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Peak live heap: the largest heap in use right after any collection in
    * the run, young ones inside a pass included. Every GC notification
    * carries the after-collection usage of each memory pool; the heap pools'
    * sum is one sample. */
  private val peakHeapBytes = new AtomicLong(0L)
  private def heapSample(bytes: Long): Unit = peakHeapBytes.accumulateAndGet(bytes, math.max(_, _))
  locally {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val onGc: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        heapSample(info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, usage) if heapPools(pool) => usage.getUsed }.sum)
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(onGc, null, null))
  }
  /** Full collections after every pass, outside its timed window, so each
    * pass starts from the same heap; they are samples too. The first lets
    * Spark's cleaner thread release the broadcasts and shuffles that died in
    * the pass (it polls its reference queue every 100 ms); the second frees
    * what it released. The direct reading covers the last collection, whose
    * notification may still be on its way. */
  private def collectAfterPass(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    heapSample(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  private val (spark, sessionCreateS) = {
    val t0 = System.nanoTime()
    val s = GraftSession.builder(appName = "perfbench", cores = cores)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    (s, secs(t0))
  }

  /** The confs that shape plans, as this session has them. */
  private val sessionRecord: Map[String, Any] = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxPartitionBytes",
      "spark.sql.adaptive.enabled")
    keys.map(k => k -> spark.conf.get(k)).toMap ++
      spark.conf.getAll.filter(_._1.startsWith("spark.sql.adaptive")) ++
      Map("heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1e6),
        "default_parallelism" -> spark.sparkContext.defaultParallelism)
  }

  /** Runs `body` as one op: a span with the given phases under `parent`,
    * jobs tied to the phase span through a local property. Returns the op's
    * wall seconds, or records the failure and returns None. */
  private def op(parent: Span, pass: Int, name: String)(body: Phase => Unit): Option[Double] = {
    val sc = spark.sparkContext
    val span = if (tracing) tracer.open(parent.id, "op", name) else null
    if (tracing) tracer.currentOp = span
    val t0 = System.nanoTime()
    val ok = try { body(new Phase(span)); true } catch {
      case NonFatal(e) =>
        failures += Map("op" -> name, "pass" -> pass, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
        false
    }
    val s = secs(t0)
    sc.setLocalProperty(Trace.SpanProperty, null)
    if (tracing) {
      tracer.close(span)
      BenchBus.drain(sc)
      tracer.currentOp = null
    }
    if (ok) Some(s) else None
  }

  /** The phase spans of one op. */
  final class Phase(opSpan: Span) {
    def apply[T](kind: String)(body: => T): T = {
      val span = if (opSpan != null) tracer.open(opSpan.id, kind, kind) else null
      if (span != null) spark.sparkContext.setLocalProperty(Trace.SpanProperty, span.id.toString)
      try body finally if (span != null) tracer.close(span)
    }
  }

  /** Attaches or detaches the trace listeners. The workload span opens on
    * the first attach; from then on every pass gets a span, and the passes
    * run while attached get op, phase, job and stage spans below it. */
  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    tracing = on
    if (workloadSpan == null) workloadSpan = tracer.open(0, "workload", "workload")
    if (on) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    } else {
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }
  }

  /** One pass: every op once, timed; process CPU seconds alongside. */
  private def pass(n: Int, ops: Seq[String])(run: (String, Phase) => Unit): Map[String, Any] = {
    val span = if (workloadSpan != null) tracer.open(workloadSpan.id, "pass", s"pass $n") else null
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val times = ops.map(name => name -> op(span, n, name)(ph => run(name, ph)))
    val wall = secs(t0)
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    if (span != null) tracer.close(span)
    collectAfterPass()
    Map("pass" -> n, "traced" -> tracing, "wall_s" -> wall, "cpu_s" -> cpu,
      "span" -> (if (span != null) span.id else 0),
      "ops" -> times.map { case (name, t) =>
        Map("op" -> name, "s" -> t.getOrElse(-1.0), "ok" -> t.isDefined) })
  }

  /** Timed passes, numbered from 1, until `seconds` have gone by. Untraced,
    * at least one. Traced, untraced and traced passes alternate, starting and
    * ending untraced, so every traced pass has an untraced neighbour on each
    * side to compare with; at least five passes, because the first traced
    * pass still sits on the steep part of the JIT's warm-up slope. */
  private def passes(one: Int => Map[String, Any]): Seq[Map[String, Any]] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer(one(1))
    def next(): Unit = out += one(out.size + 1)
    if (!traced) while (secs(t0) < seconds) next()
    else while (out.size < 5 || secs(t0) < seconds) {
      setTracing(true); next()
      setTracing(false); next()
    }
    out.toSeq
  }

  private def finish(extra: Map[String, Any]): Map[String, Any] = {
    val jvm = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val peakHeapMb = peakHeapBytes.get / 1e6
    if (workloadSpan != null) tracer.close(workloadSpan)
    spark.stop()
    extra ++ Map(
      "session" -> sessionRecord,
      "session_create_s" -> sessionCreateS,
      "peak_heap_mb" -> peakHeapMb,
      "jvm_gc_s" -> jvm,
      "jvm_jit_s" -> jit,
      "cores" -> cores.toInt,
      "failures" -> failures.toSeq,
      "spans" -> (if (traced) tracer.json else Seq.empty))
  }

  /** Warm queries: a warm-up pass that writes every op's full output for the
    * answer check, then timed passes that write to the noop sink. */
  def warm(ops: Seq[String]): Map[String, Any] = {
    val oracle = ops.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    val outputs = ops.map(q => q -> s"$work/out/$q").toMap
    def timed(n: Int) = pass(n, ops) { (q, ph) =>
      val df = ph("build")(SparkEntry.queries(q)(spark, data))
      ph("plan")(df.queryExecution.executedPlan)
      ph("execute")(df.write.format("noop").mode("overwrite").save())
    }
    val warmup = pass(0, ops) { (q, _) =>
      SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(outputs(q))
    }
    val setupS = sinceStart()
    finish(Map("setup_s" -> setupS, "passes" -> (warmup +: passes(timed)),
      "outputs" -> outputs, "oracle" -> oracle))
  }

  /** Cold scripts: each script once in this fresh process, traced from the
    * start when tracing is on (there is no second chance to time it cold). */
  def cold(scripts: Seq[(String, Map[String, String])]): Map[String, Any] = {
    val setupS = sinceStart()
    setTracing(traced)
    val outs = scripts.map { case (name, _) => name -> s"$work/out/$name" }.toMap
    val p = pass(1, scripts.map(_._1)) { (name, ph) =>
      val source = new String(Files.readAllBytes(Paths.get(scriptDir, s"$name.cmr")), "UTF-8")
      val params = scripts.toMap.apply(name) ++ Map("DIR" -> data, "OUT" -> outs(name))
      ph("script")(graft.script.ScriptEngine.run(spark, source, params))
    }
    finish(Map("setup_s" -> setupS, "passes" -> Seq(p), "outputs" -> outs))
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
