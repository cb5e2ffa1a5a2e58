package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run inside the JVM: set up (session start + warm pass),
  * measure the workload for the requested seconds, optionally
  * measure it again traced, check the outputs, and write everything raw to
  * `<work>/raw.json` for `run.py` to reduce.
  *
  * Usage: perfbench.Main --workload <name> --work <dir> --seconds <s>
  *   --trace <0|1> --cores <n>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work"))
    val seconds = opts("seconds").toDouble
    val cores = opts("cores").toInt
    val workload: Workload = opts("workload") match {
      case "stream_drain" => new Drain(work)
      case "batch_maintenance" => new Maintenance(work)
      case other => sys.error(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores, "perfbench")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val ctx = Ctx(spark, new ProgressCollector, new JobTimes)
    spark.streams.addListener(ctx.progress)
    spark.sparkContext.addSparkListener(ctx.jobs)
    val t1 = System.nanoTime()
    workload.warm(ctx)
    val setup = Map("session_ms" -> sessionMs, "warm_ms" -> (System.nanoTime() - t1) / 1e6)

    val t2 = System.nanoTime()
    val untraced = workload.measure(ctx, seconds, "untraced")
    val t3 = System.nanoTime()
    val traced = if (opts("trace") != "1") None else {
      Trace.enabled = true
      val rec = ExecRecorder.install(ctx.spark)
      val r = workload.measure(ctx, seconds, "traced")
      Trace.enabled = false
      org.apache.spark.perfbench.ListenerBusBridge.drain(ctx.spark.sparkContext)
      val intervals = ctx.unitIntervals("traced")
      val exec = rec.snapshot(intervals.map { case (u, ivs) =>
        u -> ivs.map { case (a, b) => (a / 1000000L, b / 1000000L) } })
      Some(r ++ Map(
        "restart" -> workload.recovery(ctx),
        "spans" -> Trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "unit" -> s.unit, "layer" -> s.layer, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
        "unit_intervals" -> intervals.map { case (u, ivs) => u -> ivs.map(p => Seq(p._1, p._2)) },
        "exec" -> exec.map { case (u, c) => u -> Map(
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "cpu_ms" -> c.cpuNs / 1e6, "run_ms" -> c.runMs, "gc_ms" -> c.gcMs,
          "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
          "scan_bytes" -> c.scanBytes, "plan_ms" -> c.planMs,
          "stage_intervals" -> c.stageIntervals.map(p => Seq(p._1, p._2))) }))
    }

    val t4 = System.nanoTime()
    val checks = workload.check(ctx)
    val out = Map(
      "phase_ms" -> Map("setup" -> (t2 - t0) / 1e6, "measure" -> (t3 - t2) / 1e6,
        "traced" -> (t4 - t3) / 1e6, "check" -> (System.nanoTime() - t4) / 1e6),
      "setup" -> setup,
      "untraced" -> untraced,
      "traced" -> traced,
      "checks" -> (checks ++ ctx.failures).map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "peak_rss_kb" -> vmHwmKb())
    Files.writeString(work.resolve("raw.json"), Json(out))
    ctx.spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def vmHwmKb(): Long = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong
  }
}

/** Outcome of one attempted operation: a pipeline, a query or an output check. */
final case class Outcome(name: String, ok: Boolean, detail: String)

/** Per-run state shared by the workloads. */
final case class Ctx(spark: SparkSession, progress: ProgressCollector, jobs: JobTimes) {
  private val intervals = mutable.Map.empty[(String, String), mutable.ArrayBuffer[(Long, Long)]]
  val failures = mutable.ArrayBuffer.empty[Outcome]

  /** Run `body` as `unit`: its jobs are tagged with the unit and its wall
    * interval is recorded under `phase`.
    */
  def asUnit[T](phase: String, unit: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecRecorder.UnitKey, unit)
    val t0 = Clock.epochNs()
    try body
    finally {
      recordInterval(phase, unit, t0, Clock.epochNs())
      sc.setLocalProperty(ExecRecorder.UnitKey, null)
    }
  }

  def recordInterval(phase: String, unit: String, startNs: Long, endNs: Long): Unit =
    intervals.synchronized {
      intervals.getOrElseUpdate((phase, unit), mutable.ArrayBuffer.empty) += ((startNs, endNs))
      ()
    }

  def unitIntervals(phase: String): Map[String, Seq[(Long, Long)]] =
    intervals.synchronized(intervals.collect { case ((p, u), ivs) if p == phase => u -> ivs.toSeq }.toMap)

  /** Run `body`, recording a failed outcome instead of throwing. */
  def attempt[T](name: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case NonFatal(e) =>
        failures += Outcome(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        None
    }
}

trait Workload {
  def warm(ctx: Ctx): Unit
  def measure(ctx: Ctx, seconds: Double, phase: String): Map[String, Any]
  /** A restart leg, run in traced runs after the traced measurement. */
  def recovery(ctx: Ctx): Map[String, Any] = Map.empty
  def check(ctx: Ctx): Seq[Outcome]
}

object Passes {
  /** Run `pass` until `seconds` have passed, at least once. */
  def repeat[T](seconds: Double)(pass: Int => T): Seq[T] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    while (out.isEmpty || System.nanoTime() < deadline) out += pass(out.size)
    out.toSeq
  }
}

object Frames {
  /** Order-independent fingerprint of a frame: row count and the sum of
    * per-row hashes. Columns must be cast to the same types on both sides.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(1000000007L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Storage bytes (memory + disk) held by persisted or checkpointed RDDs. */
  def residentBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def readProps(p: Path): Map[String, String] = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(p)
    try props.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    props.asScala.toMap
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  final case class Raw(text: String)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case Raw(t) => t
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product if p.productArity == 2 => apply(Seq(p.productElement(0), p.productElement(1)))
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
