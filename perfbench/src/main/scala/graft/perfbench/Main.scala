package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs ONE workload in one JVM as a closed loop of one
  * client thread, and writes what it measured to `<work>/result.json`.
  * `run.py` generates the inputs beforehand, launches this main, checks
  * the outputs and prints the metrics.
  *
  *   Main --workload <etl_batch|query_mix> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --inputs <dir>
  *
  * Sequence: build the session, set up the workload's state, run the
  * first (cold) operation, then repeat the operation until `seconds` have
  * passed and at least the workload's `warmOps` operations have run, so
  * every run measures the same positions on the JVM's warm-up curve. With
  * `--trace 1` operations alternate between untraced and traced (at least
  * three: untraced, traced, untraced), so the run measures its own tracing
  * overhead; the per-layer numbers come from the traced operations only.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val trace = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val cpus = opt.getOrElse("cpus", "4")
    val spark = BenchSession(cpus, work)
    val readyMs = System.currentTimeMillis()
    val out = new Out
    out.num("session_ready_ms", readyMs.toDouble)
    val tracer = new Tracer(spark)
    val wl: Workload = opt("workload") match {
      case "etl_batch" => new EtlBatch(spark, opt("inputs"), work, tracer, out)
      case "query_mix" => new QueryMix(spark, opt("inputs"), work, opt("seed").toLong, tracer, out)
      case w => sys.error(s"unknown workload $w")
    }
    try {
      out.num("stage_s", timed(wl.setup()))
      quiesce(out)
      out.num("warmup_s", stealSampled(out)(timed(wl.op(0))))
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      var i = 1
      // a traced run brackets each traced operation with untraced ones
      // (at least untraced, traced, untraced), so the tracing overhead is
      // not confounded with the warm-up still in progress
      val minOps = if (trace) 3 else wl.warmOps
      while (((System.nanoTime() - t0) / 1e9 < seconds || i <= minOps) && wl.more) {
        val traced = trace && i % 2 == 0
        quiesce(out)
        if (traced) tracer.enable() else tracer.disable()
        val s = stealSampled(out) {
          if (traced) tracer.span("op")(timed(wl.op(i))) else timed(wl.op(i))
        }
        out.sample(if (traced) "op_traced" else "op", s)
        i += 1
      }
      tracer.disable()
      out.num("measure_s", (System.nanoTime() - t0) / 1e9)
      out.num("gc_s", (gcMs() - gc0) / 1e3)
      if (trace) {
        wl.layers()
        tracer.dump(Paths.get(work, "spans.jsonl"))
      }
    } catch {
      case e: Throwable =>
        out.str("error", s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      out.num("peak_rss_mb", peakRssMb())
      Files.write(Paths.get(work, "result.json"), out.json.getBytes("UTF-8"))
      spark.stop()
    }
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed pause before each operation: a full GC, then a wait (at most
    * `QuiesceMaxMs`) until the JIT compilers have been idle for
    * `QuiesceIdleMs`, so an operation neither collects the previous one's
    * garbage nor competes with the compilations it queued. Recorded as
    * sample `quiesce_s`. */
  private def quiesce(out: Out): Unit = {
    val t0 = System.nanoTime()
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var idleMs = 0
    while (idleMs < QuiesceIdleMs && (System.nanoTime() - t0) / 1000000 < QuiesceMaxMs) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      idleMs = if (now == last) idleMs + 100 else 0
      last = now
    }
    out.sample("quiesce_s", (System.nanoTime() - t0) / 1e9)
  }

  private val QuiesceIdleMs = 300
  private val QuiesceMaxMs = 5000

  /** Runs `body` and records the share of CPU time the hypervisor stole
    * meanwhile (`/proc/stat`), as sample `op.steal`. */
  private def stealSampled[A](out: Out)(body: => A): A = {
    def cpu(): Array[Long] =
      Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    val a = cpu()
    val r = body
    val d = cpu().zip(a).map { case (x, y) => x - y }.take(8)
    out.sample("op.steal", if (d.length < 8 || d.sum == 0) 0.0 else d(7).toDouble / d.sum)
    r
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
  }

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}

/** The session every workload runs in: the engine's own session factory,
  * with every path Spark or the engine writes to pointed into the
  * invocation's private directory, so no state survives one invocation or
  * leaks in from another (the corpus cache would otherwise default to the
  * shared tmpdir). */
object BenchSession {
  def apply(cpus: String, work: String): SparkSession = {
    val spark = graft.GraftSession.builder(cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.graft.cacheRoot", s"file:$work/cache")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** One workload: state set-up, then a repeatable unit of client work. */
trait Workload {
  def setup(): Unit
  /** One unit of client work; `i` = 0 is the cold first execution. */
  def op(i: Int): Unit
  /** False once the workload's pre-staged inputs are used up. */
  def more: Boolean = true
  /** Warm operations an untraced run measures at least. */
  def warmOps: Int = 1
  /** Derive the per-layer metrics from the tracer's records. */
  def layers(): Unit
}

/** What a run measured, written as one JSON object. */
final class Out {
  private val nums = mutable.LinkedHashMap[String, Double]()
  private val strs = mutable.LinkedHashMap[String, String]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val layer = mutable.LinkedHashMap[String, Double]()

  def num(k: String, v: Double): Unit = nums(k) = v
  def str(k: String, v: String): Unit = strs(k) = v
  def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  def perLayer(k: String, v: Double): Unit = layer(k) = v

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def json: String = {
    val parts = Seq(
      nums.map { case (k, v) => s"${q(k)}:${n(v)}" },
      strs.map { case (k, v) => s"${q(k)}:${q(v)}" },
      Seq(q("samples") + ":" + samples.map { case (k, vs) =>
        s"${q(k)}:${vs.map(n).mkString("[", ",", "]")}" }.mkString("{", ",", "}")),
      Seq(q("per_layer") + ":" + layer.map { case (k, v) =>
        s"${q(k)}:${n(v)}" }.mkString("{", ",", "}")))
    parts.flatten.mkString("{", ",", "}")
  }
}
