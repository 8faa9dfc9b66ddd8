package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark JVM: runs one workload against the library's public
  * layer functions and writes a result file for `run.py`, which checks
  * the outputs and prints the metrics.
  *
  * Usage: `perfbench.Main <params.properties>` (written by run.py). */
object Main {

  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try p.load(in) finally in.close()
    val params = p.asScala.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = params("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.local.dir", params("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", params("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionCpuS = Ctx.cpuSeconds()
    params.get("oracles_out").foreach { out =>
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(out),
        Json(params("oracles").split(",").map(q => q -> sql(q)).toMap))
    }
    val ctx = new Ctx(spark, new Tracer(spark, params("trace") == "1"), params)
    val body: Map[String, Any] =
      try params("workload") match {
        case "habits_daily" => HabitsDaily.run(ctx)
        case "stream_ticks" => StreamTicks.run(ctx)
        case "corpus_batch" => CorpusBatch.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally ctx.tracer.flush()
    val result = body ++ Map(
      "session_s" -> sessionS,
      "session_cpu_s" -> sessionCpuS,
      "setup_reps_cpu_s" -> ctx.setupCpuS,
      "ops" -> ctx.ops.toSeq,
      "timed_wall_s" -> ctx.timedWallS,
      "window_start_s" -> ctx.windowStartS,
      "seed" -> params("seed").toLong,
      "cores" -> cores,
      "gc_s" -> ctx.gcS,
      "exec_run_s" -> ctx.execRunS,
      "peak_rss_mb" -> peakRssMb(),
      "live_heap_mb" -> ctx.liveHeapMb,
      "cpu_s" -> ctx.cpuS,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spans" -> (if (ctx.tracer.enabled) ctx.tracer.toJson else Nil))
    Files.writeString(Paths.get(params("result")), Json(result))
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** What a workload needs: the session, the tracer, its parameters, and
  * the op log every timed operation goes through. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val params: Map[String, String]) {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val seconds: Double = params("seconds").toDouble
  val inputs: String = params("inputs")
  val work: String = params("work")
  /** Ops before the timed loop (set-up checks, warm-up) are tagged so
    * they count as attempted but stay out of the latency figures. */
  private var warm = true
  var timedWallS = 0.0
  var windowStartS = 0.0
  var liveHeapMb = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var execRunS = 0.0

  /** Time one operation; a thrown error is recorded as a failed op. */
  def op[T](kind: String, name: String, extra: Map[String, Any] = Map.empty)(
      body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val out = try Right(tracer.span(name)(body)) catch {
      case NonFatal(e) => Left(e)
    }
    val s = (System.nanoTime() - t0) / 1e9
    ops += (Map[String, Any]("kind" -> kind, "name" -> name, "s" -> s,
      "ok" -> out.isRight, "warmup" -> warm) ++ extra ++
      out.left.toOption.map(e => "error" -> e.toString.take(400)))
    out.left.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    out.toOption
  }

  /** Run the timed loop until `seconds` have passed. Each `step` is one
    * whole cycle of the workload, so every run holds the same mix of
    * calls. Records the wall, GC and executor time of the window, then the
    * heap still live after a full collection. `step` returns false when it
    * has run out of inputs. */
  def timed(step: () => Boolean): Unit = {
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    warm = false
    tracer.flush()
    val gc0 = gcMs; val run0 = tracer.total.runMs; val cpu0 = Ctx.cpuSeconds()
    windowStartS = tracer.elapsedS()
    val t0 = System.nanoTime()
    var more = true
    while (more && (System.nanoTime() - t0) / 1e9 < seconds) more = step()
    timedWallS = (System.nanoTime() - t0) / 1e9
    cpuS = Ctx.cpuSeconds() - cpu0
    tracer.flush()
    gcS = (gcMs - gc0) / 1e3
    execRunS = (tracer.total.runMs - run0) / 1e3
    // Collect until the heap stops shrinking: each collection lets Spark's
    // cleaner release shuffles and broadcasts whose last reference it
    // dropped, which the next collection frees.
    def heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    var (prev, n) = (Double.MaxValue, 0)
    System.gc(); liveHeapMb = heapMb
    while (prev - liveHeapMb > 1.0 && n < 8) {
      Thread.sleep(250); System.gc()
      prev = liveHeapMb; liveHeapMb = heapMb; n += 1
    }
  }

  /** CPU seconds of each set-up repetition, beside the walls `setupReps`
    * returns. */
  val setupCpuS = mutable.ArrayBuffer.empty[Double]

  /** Run a set-up step `reps` times; returns the wall time of each. */
  def setupReps(reps: Int)(body: Int => Unit): Seq[Double] =
    (0 until reps).map { r =>
      val (t0, c0) = (System.nanoTime(), Ctx.cpuSeconds())
      body(r)
      setupCpuS += Ctx.cpuSeconds() - c0
      (System.nanoTime() - t0) / 1e9
    }

  def path(parts: String*): String = (work +: parts).mkString("/")
}

object Ctx {
  /** CPU time of this process so far, every thread included. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans, Spark rows). */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v); sb.toString
  }
  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: java.lang.Number => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case r: Row => write(sb, r.toSeq)
    case a: Array[_] => write(sb, a.toSeq)
    case it: Iterable[_] =>
      sb += '['
      it.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(sb, x) }
      sb += ']'
    case t: java.sql.Timestamp => str(sb, t.toInstant.toString)
    case t: java.time.Instant => str(sb, t.toString)
    case other => str(sb, other.toString)
  }
}
