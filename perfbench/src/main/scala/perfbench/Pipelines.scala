package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.model.AuditTrail
import graft.streaming.{StatefulOps, StreamOps}

final class InjectedStop(batchId: Long) extends RuntimeException(s"stopped at batch $batchId")

/** The reference-chapter pipelines the stream workload runs, their batch
  * twins in `SparkEntry.queries`, and the column shapes under which a
  * pipeline's sink output and its twin are compared.
  */
object Pipelines {
  /** Pipeline name -> the `SparkEntry.queries` row it must equal. */
  val twins: Map[String, String] = Map(
    "a1" -> "a1_tumbling_count",
    "a4" -> "a4_session_windows",
    "st1" -> "st1_burst_alerts",
    "j1" -> "j1_windowed_join")

  /** Schema of the generated event files (read from one of them). */
  def schema(spark: SparkSession, dir: Path): StructType = {
    val f = Files.list(dir).filter(_.toString.endsWith(".parquet")).findFirst().get
    spark.read.parquet(f.toString).schema
  }

  /** The generated files store `ts` without a time zone; the engine's
    * operators take a session-zone timestamp (as `Tables.events` does).
    */
  def normalize(raw: DataFrame): DataFrame = raw.withColumn("ts", col("ts").cast(TimestampType))

  private def auditTrail(ev: DataFrame): Dataset[AuditTrail] =
    ev.select(
      col("event_id").cast("int").as("id"),
      col("user_id").cast("string").as("user"),
      lit("Event").as("entity"),
      when(col("event_type") === "error", lit("Delete")).otherwise(col("event_type")).as("operation"),
      unix_micros(col("ts")).as("timestamp"),
      lit(0).as("duration"),
      lit(0).as("count"))
      .as(Encoders.product[AuditTrail])

  /** The streaming result of pipeline `name`; `source` opens one stream
    * over the event files (J1 opens two, one per join side).
    */
  def build(name: String, unit: String, source: () => DataFrame): DataFrame = {
    def ev = Trace.span(unit, "sources", "parquetStream")(normalize(source()))
    def op[T](body: => T): T = Trace.span(unit, "streaming", s"StreamOps.$name")(body)
    name match {
      case "a1" => op(StreamOps.windowedCount(ev, "ts", "5 seconds"))
      case "a4" => op(StreamOps.sessionSummaryStream(ev, "user_id", "ts", "4 hours", "value"))
      case "st1" => op(StatefulOps.deleteBurstAlerts(auditTrail(ev), thresholdMs = 14400000000L).toDF())
      case "j1" =>
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("ts"), col("user_id"), col("event_id").as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("ts"), col("user_id"), col("event_id").as("purchase_id"))
        op(StreamOps.streamStreamWindowJoin(clicks, purchases, "user_id", "ts", "1 day"))
    }
  }

  /** Start pipeline `df` writing each micro-batch to `out/batch=<id>` through
    * `Sinks.idempotentForeachBatch`. The write of batch `failAt` throws
    * before it writes, which stops the query mid-drain at a known batch.
    */
  def start(df: DataFrame, unit: String, checkpoint: Path, out: Path,
      trigger: Trigger, failAt: Long = -1L): StreamingQuery = {
    val parent = Trace.current
    val writer = Trace.span(unit, "sinks", "idempotentForeachBatch") {
      graft.sinks.Sinks.idempotentForeachBatch(df, checkpoint.toString) { (batch, id) =>
        if (id == failAt) throw new InjectedStop(id)
        Trace.span(unit, "sinks", "sink.write", parent) {
          batch.write.mode("overwrite").parquet(out.resolve(s"batch=$id").toString)
        }
      }
    }
    writer.trigger(trigger).start()
  }

  /** Sink output of `name` in its comparison shape; rows of the far-future
    * flush sentinel (user `sentinelUser`, time >= `sentinelUs`) are dropped.
    */
  def streamed(spark: SparkSession, name: String, out: Path,
      sentinelUser: Long, sentinelUs: Long): DataFrame = {
    val o = spark.read.parquet(out.toString)
    name match {
      case "a1" => o.select((unix_micros(col("window_start")) / 1000000L).cast("long").as("window_start"),
          col("n").cast("long"))
        .filter(col("window_start") * 1000000L < lit(sentinelUs) - lit(86400000000L))
      case "a4" => o.filter(col("user_id") =!= sentinelUser)
        .select(col("user_id").cast("long"), col("session_start_us"), col("session_end_us"),
          col("n").cast("long"), col("sum_value_milli").cast("long"))
      case "st1" => o.select(col("user").cast("long").as("user_id"), col("ts").as("ts_us"),
          col("diffMs").as("diff_us"))
      case "j1" => o.select(col("w.start").cast("long").as("w"), col("user_id").cast("long"),
          col("click_id").cast("long"), col("purchase_id").cast("long"))
    }
  }

  /** The batch twin of `name` over the events under `dir`, in comparison shape. */
  def twin(spark: SparkSession, name: String, dir: String): DataFrame = {
    val q = graft.SparkEntry.queries(twins(name))(spark, dir)
    name match {
      case "a1" => q.select(col("window_start").cast("long"), col("n").cast("long"))
      case "a4" => q.select(col("user_id").cast("long"), col("session_start_us"), col("session_end_us"),
          col("n").cast("long"), col("sum_value_milli").cast("long"))
      case "st1" =>
        val ev = graft.sources.Tables.events(spark, dir)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
        q.join(ev, "event_id").select(col("user_id").cast("long"), col("ts_us"), col("diff_us"))
      case "j1" => q.select(col("w").cast("long"), col("user_id").cast("long"),
          col("click_id").cast("long"), col("purchase_id").cast("long"))
    }
  }

  /** Compare a sink output with its twin; returns the failed outcome or a pass. */
  def compare(spark: SparkSession, check: String, name: String, out: Path,
      twinPrint: (Long, Long), sentinelUser: Long, sentinelUs: Long): Outcome = {
    val got = Frames.fingerprint(streamed(spark, name, out, sentinelUser, sentinelUs))
    Outcome(check, got == twinPrint && got._1 > 0,
      s"rows/hash streamed=$got twin=$twinPrint")
  }
}
