package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `stream_drain`: four reference-chapter pipelines each drain a seeded
  * backlog of event files with `Trigger.AvailableNow` and a fixed
  * `maxFilesPerTrigger`, one after another; passes repeat (fresh
  * checkpoints) until the measured seconds are spent. Batches are large,
  * so operator, state and shuffle work per batch shows. Traced runs add a
  * restart leg that stops A4 mid-drain and restarts it from its checkpoint.
  *
  * Inputs (written by `run.py`): `drain/stream/` holds the backlog plus a
  * last far-future flush sentinel, `drain/twin/events.parquet/` the same
  * backlog without it, `drain/warm/` a few leading files.
  */
final class Drain(work: Path) extends Workload {
  private val dir = work.resolve("drain")
  private val meta = Frames.readProps(dir.resolve("meta.properties"))
  private val maxFiles = meta("max_files_per_trigger")
  private val sentinelUser = meta("sentinel_user").toLong
  private val sentinelUs = meta("sentinel_us").toLong
  private val streamDir = dir.resolve("stream")
  private val names = Seq("a1", "a4", "st1", "j1")
  private val firstPass = mutable.Map.empty[String, Path]
  private val results = mutable.ArrayBuffer.empty[(String, Path)]

  private def source(ctx: Ctx, src: Path)(): DataFrame =
    // `Sources.parquetStream` takes no reader options; this is its reader
    // plus the batch-size cap a drain needs
    ctx.spark.readStream.schema(Pipelines.schema(ctx.spark, streamDir))
      .option("maxFilesPerTrigger", maxFiles).parquet(src.toString)

  private def launch(ctx: Ctx, name: String, unit: String, src: Path, ck: Path, out: Path,
      failAt: Long = -1L): StreamingQuery =
    Pipelines.start(Pipelines.build(name, unit, source(ctx, src)), unit, ck, out,
      Trigger.AvailableNow(), failAt)

  private def drain(ctx: Ctx, phase: String, name: String, src: Path, tag: String): Option[Map[String, Any]] = {
    val unit = s"drain_$name"
    val ck = dir.resolve(s"ck/$tag-$name")
    val out = dir.resolve(s"out/$tag-$name")
    ctx.attempt(s"drain $name $tag") {
      ctx.asUnit(phase, unit) {
        Trace.span(unit, "streaming", "pipeline") {
          val startNs = Clock.epochNs()
          val t0 = System.nanoTime()
          val q = launch(ctx, name, unit, src, ck, out)
          q.awaitTermination()
          val wallMs = (System.nanoTime() - t0) / 1e6
          q.exception.foreach(e => throw e)
          if (phase != "warm") results += ((name, out))
          if (tag == "untraced0") firstPass(name) = out
          Map("pipeline" -> name, "wall_ms" -> wallMs, "start_ns" -> startNs,
            "checkpoint" -> ck.toString, "progress" -> ctx.progress.of(q.runId).map(Json.Raw))
        }
      }
    }
  }

  /** Every pipeline once over a few files, all at the same time. */
  def warm(ctx: Ctx): Unit =
    names.map(n => launch(ctx, n, s"drain_$n", dir.resolve("warm"), dir.resolve(s"ck/warm-$n"),
      dir.resolve(s"out/warm-$n"))).foreach(_.awaitTermination())

  def measure(ctx: Ctx, seconds: Double, phase: String): Map[String, Any] = {
    val passes = Passes.repeat(seconds) { i =>
      names.flatMap(n => drain(ctx, phase, n, streamDir, s"$phase$i"))
    }
    Map("events" -> meta("events").toLong, "passes" -> passes)
  }

  /** Stop A4 mid-drain (its sink fails on the last data batch, after the
    * batch's offsets are logged), restart it from the same checkpoint, and
    * time the restart to its first committed batch. The stopped batch is
    * replayed on restart.
    */
  override def recovery(ctx: Ctx): Map[String, Any] = {
    val unit = "drain_a4"
    val ck = dir.resolve("ck/restart-a4")
    val out = dir.resolve("out/restart-a4")
    val lastData = meta("files").toLong / maxFiles.toLong
    ctx.attempt("drain a4 restart") {
      ctx.asUnit("recovery", unit) {
        val q1 = launch(ctx, "a4", unit, streamDir, ck, out, failAt = lastData)
        try q1.awaitTermination()
        catch { case e: org.apache.spark.sql.streaming.StreamingQueryException
          if Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[InjectedStop]) => () }
        def ids(sub: String) = Option(ck.resolve(sub).toFile.list()).toSeq.flatten
          .filter(_.forall(_.isDigit)).map(_.toLong).toSet
        val replayed = (ids("offsets") -- ids("commits")).size
        val t0 = System.nanoTime()
        val q2 = launch(ctx, "a4", unit, streamDir, ck, out)
        while (q2.isActive && q2.recentProgress.isEmpty) Thread.sleep(1)
        val recoveryMs = (System.nanoTime() - t0) / 1e6
        q2.awaitTermination()
        q2.exception.foreach(e => throw e)
        Map("recovery_ms" -> recoveryMs, "replayed_batches" -> replayed)
      }
    }.getOrElse(Map.empty)
  }

  def check(ctx: Ctx): Seq[Outcome] = {
    val twinDir = dir.resolve("twin").toString
    val prints = names.flatMap(n => ctx.attempt(s"twin $n")(n -> Frames.fingerprint(
      Pipelines.twin(ctx.spark, n, twinDir)))).toMap
    val vsTwin = results.toSeq.flatMap { case (n, out) =>
      prints.get(n).map(p => ctx.attempt(s"check $n ${out.getFileName}")(
        Pipelines.compare(ctx.spark, s"$n ${out.getFileName} == twin", n, out, p, sentinelUser, sentinelUs)
      ).getOrElse(Outcome(s"$n ${out.getFileName}", ok = false, "comparison failed")))
    }
    // the restarted A4 must equal the uninterrupted A4 of the first pass
    val restarted = dir.resolve("out/restart-a4")
    val vsUninterrupted = firstPass.get("a4").filter(_ => Files.exists(restarted)).toSeq.map { out =>
      val a = Frames.fingerprint(Pipelines.streamed(ctx.spark, "a4", restarted, sentinelUser, sentinelUs))
      val b = Frames.fingerprint(Pipelines.streamed(ctx.spark, "a4", out, sentinelUser, sentinelUs))
      Outcome("a4 restarted == uninterrupted", a == b, s"restarted=$a uninterrupted=$b")
    }
    vsTwin ++ vsUninterrupted
  }
}
