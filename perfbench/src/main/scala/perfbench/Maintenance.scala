package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row

/** `batch_maintenance`: rows of `SparkEntry.queries` run one after another
  * over a seeded corpus, each built through the query map and executed by
  * collecting its result. The maintenance row is bound by stage count (a
  * checkpoint-and-probe peel loop); the one-pass rows bypass that
  * mechanism and are the batch twins the stream outputs are checked
  * against. Passes repeat until the measured seconds are spent.
  *
  * Inputs (written by `run.py`): `corpus/<table>.parquet` and a smaller
  * `warm_corpus/`. The first measured pass's rows go to `results/<q>.json`
  * for the DuckDB oracle check in `run.py`.
  */
final class Maintenance(work: Path) extends Workload {
  val maintenance = Seq("graph_kcore_incremental")
  val onePass = Seq("a1_tumbling_count", "a4_session_windows", "st1_burst_alerts",
    "j1_windowed_join", "tpch_q1_pricing", "tpch_q21_waiting_supp")
  private val corpus = work.resolve("corpus").toString
  private val resultsDir = work.resolve("results")

  private def runQuery(ctx: Ctx, phase: String, q: String, dir: String): Option[(Double, Array[Row])] =
    ctx.attempt(s"$q $phase") {
      ctx.asUnit(phase, q) {
        Trace.span(q, "bench", "query") {
          val t0 = System.nanoTime()
          val fn = Trace.span(q, "sparkentry", "SparkEntry.queries")(graft.SparkEntry.queries(q))
          val df = Trace.span(q, "functions", "build")(fn(ctx.spark, dir))
          val rows = Trace.span(q, "functions", "exec")(df.collect())
          ((System.nanoTime() - t0) / 1e6, rows)
        }
      }
    }

  /** Two one-pass rows and the maintenance row over a small corpus: the
    * first queries of a JVM pay its class loading and compilation.
    */
  def warm(ctx: Ctx): Unit =
    (Seq("a1_tumbling_count", "tpch_q21_waiting_supp") ++ maintenance).foreach(q =>
      runQuery(ctx, "warm", q, work.resolve("warm_corpus").toString))

  def measure(ctx: Ctx, seconds: Double, phase: String): Map[String, Any] = {
    val passes = Passes.repeat(seconds) { i =>
      val start = System.nanoTime()
      (onePass ++ maintenance).flatMap { q =>
        runQuery(ctx, phase, q, corpus).map { case (wallMs, rows) =>
          if (phase == "untraced" && i == 0) writeRows(q, rows)
          Map("query" -> q, "group" -> (if (maintenance.contains(q)) "maint" else "scan"),
            "wall_ms" -> wallMs, "done_ms" -> (System.nanoTime() - start) / 1e6,
            "rows" -> rows.length, "resident_bytes" -> Frames.residentBytes(ctx.spark))
        }
      }
    }
    org.apache.spark.perfbench.ListenerBusBridge.drain(ctx.spark.sparkContext)
    val job = ctx.unitIntervals(phase).values.flatten.map { case (a, b) =>
      ctx.jobs.between(a / 1000000L, b / 1000000L) }.flatten
    Map("passes" -> passes, "job_ms" -> job,
      "oracle_sql" -> (onePass ++ maintenance).map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
  }

  /** One JSON array per row; the engine's outputs are integers and strings. */
  private def writeRows(q: String, rows: Array[Row]): Unit = {
    Files.createDirectories(resultsDir)
    val lines = rows.map(r => Json((0 until r.length).map(i => r.get(i) match {
      case null => null
      case v: java.lang.Number => Json.Raw(v.toString)
      case v => v.toString
    })))
    Files.writeString(resultsDir.resolve(s"$q.json"), lines.mkString("[", ",\n", "]"))
  }

  /** Outputs are checked against the DuckDB oracle by `run.py`. */
  def check(ctx: Ctx): Seq[Outcome] = Nil
}
