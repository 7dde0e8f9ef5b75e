package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One completed (or failed) benchmark operation; `lat` is seconds from
  * sending it to its reply. */
final case class Op(kind: String, name: String, lat: Double, ok: Boolean)

/** State shared by a workload run: the session, its inputs, the
  * instruments, and everything the run reports. */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Double, val inst: Instruments, val gc: GcWatch) {
  def tracer: Tracer = inst.tracer
  val ops: mutable.Buffer[Op] = mutable.Buffer.empty
  val errors: mutable.Buffer[String] = mutable.Buffer.empty
  /** Named set-up phases, seconds. */
  val setup: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Workload-specific counts and values for the report. */
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  var wallS = 0.0
  /** Bounds of the timed region (System.nanoTime), for the span report. */
  @volatile var timedFrom: Long = Long.MaxValue
  @volatile var timedTo: Long = Long.MaxValue
  private val requests = new java.util.concurrent.atomic.AtomicLong()

  /** A fresh request id; set-up and checks use request 0. */
  def request(): Long = requests.incrementAndGet()

  def inTimed: Boolean = { val t = System.nanoTime(); t >= timedFrom && t < timedTo }

  def record(kind: String, name: String, lat: Double, ok: Boolean): Unit = {
    synchronized(ops += Op(kind, name, lat, ok))
    log(f"$kind $name ${lat}%.3f s${if (ok) "" else " FAILED"}")
  }

  /** Progress line for the JVM log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f] $msg")
  private val born = System.nanoTime()

  def fail(what: String, t: Throwable): Unit = synchronized {
    val msg = Option(t.getMessage).getOrElse(t.getClass.getName)
    errors += s"$what: ${msg.linesIterator.take(3).mkString(" | ").take(400)}"
  }

  def count(key: String): Unit =
    synchronized(extra(key) = extra.getOrElse(key, 0L).asInstanceOf[Long] + 1)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs and times one named set-up phase. */
  def setupPhase[T](name: String)(body: => T): T = {
    val (v, s) = timeS(body)
    setup(name) = s
    log(f"setup $name $s%.3f s")
    v
  }

  /** Passes a closed-loop client makes over its operation list: one per
    * `nominalS` seconds of the run (at least one), so every run of a given
    * length does the same work whatever the machine's speed. */
  def passes(nominalS: Double): Int = {
    val n = math.max(1, math.round(seconds / nominalS).toInt)
    extra("passes") = n.toLong
    n
  }

  /** Runs the timed region: instruments restart at its start, and its wall
    * time is recorded. */
  def timed(body: => Unit): Unit = {
    inst.reset()
    gc.reset()
    timedFrom = System.nanoTime()
    body
    timedTo = System.nanoTime()
    wallS = (timedTo - timedFrom) / 1e9
    inst.drain()
  }
}

/** Benchmark JVM entry point, started by perfbench/run.py:
  * `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cores>`.
  * Inputs are read from `<work dir>/data`; the run's raw report is written
  * to `<work dir>/result.json` (and the spans to `trace.json`). */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val Array(workload, seedS, secondsS, traceS, work, coresS) = args
    val cores = coresS.toInt
    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = GraftSession.builder(s"local[$cores]", cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val run = new Run(spark, work, seedS.toLong, secondsS.toDouble,
      new Instruments(spark, new Tracer(traceS == "1")), new GcWatch)
    run.setup("jvm_s") = jvmS
    run.setup("session_s") = sessionS
    workload match {
      case "registry" => Registry.run(run,
        Files.readAllLines(Paths.get(s"$work/data/queries.txt")).asScala.toSeq.filter(_.nonEmpty))
      case "history_serve" => Serve.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    write(s"$work/result.json", report(run))
    if (run.tracer.enabled) write(s"$work/trace.json", Map("spans" -> run.tracer.spans.map(s =>
      Seq(s.id, s.parent, s.name, s.req, s.startNs, s.endNs))))
    spark.stop()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, value: Any): Unit =
    Files.write(Paths.get(path), json.writeValueAsString(value).getBytes(StandardCharsets.UTF_8))

  private def report(r: Run): Map[String, Any] = {
    val (gcCount, gcMs) = r.gc.delta
    val base = Map(
      "ops" -> r.ops.map(o => Seq(o.kind, o.name, o.lat, o.ok)),
      "errors" -> r.errors,
      "setup" -> r.setup,
      "extra" -> r.extra,
      "wall_s" -> r.wallS,
      "heap_peak_mb" -> r.gc.oldPeakBytes / 1048576.0,
      "gc_ms" -> gcMs,
      "gc_count" -> gcCount)
    if (!r.tracer.enabled) base
    else {
      val layers = r.tracer.spans.filter(s => s.startNs >= r.timedFrom && s.endNs <= r.timedTo)
        .groupBy(_.name).map { case (n, ss) =>
          n -> Map("n" -> ss.size, "ms" -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum)
        }
      base ++ Map(
        "spans" -> layers,
        "exec" -> r.inst.exec.c.toMap,
        "skews" -> r.inst.exec.skews.toSeq,
        "plans" -> r.inst.plans.c.toMap,
        "cores" -> r.spark.sparkContext.defaultParallelism)
    }
  }
}
