package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame

/** Ad-hoc single-query timer — the inner loop for plan/perf iteration
  * without paying for a full Bench pass. It follows the Bench slow-tail
  * protocol, not a shared-session `.count()` shape, which both
  * under-timed (count() prunes columns, deleting every
  * cardinality-preserving operator from the executed plan — the Bench
  * scaladoc's round-9 finding) and cross-contaminated (a shared session
  * inflates heavy queries 15-65%). Per query: a FRESH Bench session, two
  * warm passes on the tiny sf0.001 sibling (codegen/JIT off the clock),
  * then `runs` timed noop-sink executions at full scale; min and all
  * times printed.
  *
  * The last timed run is also attributed stage by stage — wall, executor
  * run/CPU time, GC and shuffle bytes, sorted by wall, with the callsite
  * so stages map back to operators: the level between one number and a
  * full Spark UI (disabled here).
  *
  * Usage: runMain graft.tools.TimeQ <queryName> [queryName ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  *      SPARK_GRAFT_TIMEQ_RUNS (default 3).
  */
object TimeQ {
  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  final case class Stage(id: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long,
      shRead: Long, shWrite: Long, wallMs: Long)

  /** Records every stage submitted at or after `sinceMs` (epoch millis):
    * events of earlier runs still queued on the listener bus stay out.
    */
  private final class StageLog(sinceMs: Long) extends SparkListener {
    val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (si.submissionTime.exists(_ >= sinceMs)) {
        val m = si.taskMetrics
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(0L)
        stages.synchronized {
          stages += Stage(si.stageId, si.name, si.numTasks,
            m.executorRunTime, m.executorCpuTime / 1000000,
            m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, wall)
        }
      }
    }
  }

  private def printStages(q: String, total: Double, stages: Seq[Stage]): Unit = {
    println(f"===== $q: last run ${total}%.2f s, ${stages.size} stages =====")
    println(f"${"stage"}%6s ${"tasks"}%5s ${"wall_s"}%7s ${"run_s"}%7s " +
      f"${"cpu_s"}%7s ${"gc_s"}%5s ${"shR_MB"}%7s ${"shW_MB"}%7s  name")
    stages.sortBy(-_.wallMs).take(40).foreach { r =>
      println(f"${r.id}%6d ${r.tasks}%5d ${r.wallMs / 1e3}%7.2f " +
        f"${r.runMs / 1e3}%7.2f ${r.cpuMs / 1e3}%7.2f ${r.gcMs / 1e3}%5.1f " +
        f"${r.shRead / 1e6}%7.1f ${r.shWrite / 1e6}%7.1f  ${r.name.take(90)}")
    }
    println(f"[timeq] $q sum stage wall=${stages.map(_.wallMs).sum / 1e3}%.2f s")
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_TIMEQ_RUNS", "3").toInt
    require(runs >= 1, s"SPARK_GRAFT_TIMEQ_RUNS must be >= 1, got $runs")
    val warmDir = {
      val p = java.nio.file.Paths.get(sf).toAbsolutePath.getParent
      if (p != null) p.resolve("sf0.001").toString else ""
    }
    val warmOk = warmDir.nonEmpty &&
      new java.io.File(warmDir, "lineitem.parquet").exists()
    for (q <- args) {
      val fn = graft.SparkEntry.queries(q)
      val spark = graft.Bench.newSession(cpus)
      if (warmOk) { // two tiny warms, the Bench slow-tail shape
        try { exec(fn(spark, warmDir)); exec(fn(spark, warmDir)) }
        catch { case _: Throwable => () }
      }
      val earlier = (1 until runs).map(_ => seconds(exec(fn(spark, sf))))
      val log = new StageLog(System.currentTimeMillis())
      spark.sparkContext.addSparkListener(log)
      val last = seconds(exec(fn(spark, sf)))
      spark.stop() // drains the listener bus: the log is complete
      val times = earlier :+ last
      println(f"[timeq] $q%-28s min ${times.min}%.2f s" +
        f"  (${times.map(t => f"$t%.2f").mkString(", ")})")
      printStages(q, last, log.stages.toSeq)
      System.gc()
    }
  }
}
