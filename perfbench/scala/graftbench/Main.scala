package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.GraftSession

/** One benchmark run inside one JVM:
  *
  * {{{
  *   Main <workload> <input dir> <work dir> <seconds> <trace 0|1>
  * }}}
  *
  * Reads `<input dir>/spec.json` (written by run.py from the seed), sets
  * the workload up, runs its closed loop — one client, the next request
  * only after the previous one returned — for `<seconds>`, and writes
  * every set-up time, every request and, when tracing, the spans, jobs
  * and layer counters to `<work dir>/result.json`. Outputs are checked
  * afterwards by run.py.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, workDir, seconds, trace) = args
    val spec = new ObjectMapper().readTree(Files.readString(Paths.get(inDir, "spec.json")))
    val calibBefore = Host.calibMs()
    val spark = GraftSession.get("graftbench")
    val run = new Run(spark, new Tracer(trace == "1", spark), seconds.toDouble, inDir, workDir)
    try {
      workload match {
        case "gwas_lookup" => GwasLookup(run, spec)
        case "study_ingest" => StudyIngest(run, spec)
        case other => sys.error(s"unknown workload $other")
      }
    } finally {
      val calibAfter = Host.calibMs()
      run.extra("calib_ms") = Seq(calibBefore, calibAfter)
      run.extra("peak_rss_mb") = Host.peakRssMb()
      Files.writeString(Paths.get(workDir, "result.json"), Json(run.record), UTF_8)
      spark.stop()
    }
  }
}

object Run {
  /** Set-up repetitions; `setup_s` is their median, the first is cold. */
  val SetupReps = 3
}

/** What one run records. Workloads call [[setup]] for each set-up
  * repetition, [[timed]] around the closed loop and [[op]] per request. */
final class Run(val spark: SparkSession, val tr: Tracer, val seconds: Double,
                val inDir: String, val workDir: String) {
  val setups = mutable.ArrayBuffer[Double]()
  val ops = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  val extra = mutable.LinkedHashMap[String, Any]()
  private val jobs = new JobListener
  private val phases = new PhaseListener
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private var window = (0L, 0L)
  private var layer = Map.empty[String, Long]

  if (tr.on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(phases)
  }

  def in(name: String): String = Paths.get(inDir, name).toString
  def work(name: String): String = Paths.get(workDir, name).toString

  /** Times one set-up repetition, in seconds. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = tr("setup")(body)
    setups += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Runs the closed loop: `step(i)` issues step i until the time is up
    * and at least `minSteps` steps ran, or until `step` returns false.
    * Layer counters are taken as deltas over exactly this window. */
  def timed(minSteps: Int = 1)(step: Int => Boolean): Unit = {
    val before = counters()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while ((i < minSteps || System.nanoTime() < deadline) && step(i)) i += 1
    val t1 = System.nanoTime()
    window = (t0, t1)
    layer = counters().map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
  }

  /** Times one request of the closed loop. `describe` turns the result
    * into the fields recorded beside the latency (row count, digest) and
    * runs after the clock stops. A request that throws is recorded as
    * failed. */
  def op[T](kind: String, info: (String, Any)*)(body: => T)(
      describe: T => Seq[(String, Any)]): Option[T] = {
    val rec = mutable.LinkedHashMap[String, Any]("kind" -> kind)
    rec ++= info
    val t0 = System.nanoTime()
    val r = try Right(tr("op." + kind)(body)) catch { case NonFatal(e) => Left(e) }
    rec("ms") = (System.nanoTime() - t0) / 1e6
    r match {
      case Right(v) => rec("ok") = true; rec ++= describe(v)
      case Left(e) =>
        rec("ok") = false
        rec("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        System.err.println(s"[graftbench] $kind failed: ${rec("error")}")
    }
    ops += rec
    r.toOption
  }

  /** Collects a result on the driver, as the Shiny app does. */
  def collect(df: org.apache.spark.sql.DataFrame): Array[Row] = tr("action")(df.collect())

  /** Row count and [[Canon]] digest of a collected result. */
  def described(df: org.apache.spark.sql.DataFrame, rows: Array[Row]): Seq[(String, Any)] =
    Seq("rows" -> rows.length, "digest" -> Canon.digest(df.schema.fieldNames.toSeq, rows))

  private def counters(): Map[String, Long] = {
    val m = mutable.LinkedHashMap[String, Long]()
    if (tr.on) {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      m ++= jobs.c
      m("jobs") = jobs.jobs.size.toLong
      m ++= phases.c
    }
    m("codegen_compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    m("codegen_compile_ns") = CodeGenerator.compileTime
    m("gc_ms") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    m.toMap
  }

  private def jobNs(ms: Long): Long = if (ms < 0) -1L else baseNs + (ms - baseMs) * 1000000L

  def record: Map[String, Any] = Map(
    "setup_s" -> setups.toSeq,
    "window_ns" -> Seq(window._1, window._2),
    "ops" -> ops.map(_.toMap).toSeq,
    "layer" -> layer,
    "spans" -> tr.all.map(s => Seq(s.id, s.parent, s.name, s.startNs, s.endNs)),
    "jobs" -> jobs.jobs.values.toSeq.map(j => Seq(j(0), j(1), jobNs(j(2)), jobNs(j(3)))),
    "extra" -> extra.toMap)
}

/** Order-insensitive result digest: columns sorted by name, one line per
  * row, lines sorted, SHA-256. Doubles are written as their exact binary
  * value rounded half-even to 9 decimals, so a 1-ulp difference in a
  * transcendental function does not read as a wrong answer. run.py
  * computes the same form from DuckDB or from its own model. */
object Canon {
  def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => dec(d)
    case f: Float => dec(f.toDouble)
    case x => x.toString
  }

  private def dec(d: Double): String =
    new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN).toPlainString

  def digest(names: Seq[String], rows: Array[Row]): String = {
    val order = names.zipWithIndex.sortBy(_._1)
    val lines = rows.map(r => order.map { case (_, i) => cell(r.get(i)) }.mkString("\u001f")).sorted
    val text = order.map(_._1).mkString(",") + "\n" + lines.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }
}

object Host {
  /** A fixed CPU loop on as many threads as Spark has cores, median of
    * five: the same work on every run, so a slow reading flags a stalled
    * or contended host, not the program. One thread alone would miss
    * neighbours that take some of the cores. */
  def calibMs(): Double = {
    val threads = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val ts = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val ws = Seq.fill(threads)(new Thread(() => spin()))
      ws.foreach(_.start())
      ws.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(2)
  }

  private def spin(): Unit = {
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42) println("") // uses acc, so the JIT cannot drop the loop
  }

  /** High-water resident set of this JVM (VmHWM), in MB; -1 if unknown. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    } catch { case NonFatal(_) => -1.0 }
}

/** Minimal JSON writer for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}
