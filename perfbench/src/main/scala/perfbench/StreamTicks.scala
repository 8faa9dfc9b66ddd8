package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.Streaming

/** `stream_ticks`: cron-style `Trigger.AvailableNow` drains, one stream
  * per kind, each with a checkpoint that persists across ticks. Each
  * tick lands one generated file per kind in that kind's source
  * directory, then drains each kind once; a drain is timed from the
  * landing of its file to the termination of its query. */
object StreamTicks {

  val Kinds = Seq("upsert", "rollup", "dedup", "cluster", "cms")

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val TimeoutMs = 120000L

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val src = (k: String) => ctx.path("src", k)
    val out = (k: String, part: String) => ctx.path("out", k, part)
    val cp = (k: String) => ctx.path("cp", k)
    val maxTicks = ctx.params("ticks").toInt

    def pending(k: String, tick: Int) =
      Paths.get(f"${ctx.inputs}/ticks/$k/tick_$tick%04d.parquet")

    /** Copy the tick's file into the source directory: its arrival. The
      * mtime is set past every earlier file so the file source never sees
      * two arrivals tie. */
    def land(k: String, tick: Int): Unit = {
      val dst = Paths.get(src(k), f"tick_$tick%04d.parquet")
      Files.copy(pending(k, tick), dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + tick * 60000L))
    }

    def stream(k: String): DataFrame = spark.readStream
      .schema(if (k == "dedup" || k == "cluster") docSchema else eventSchema)
      .parquet(src(k))

    def start(k: String): StreamingQuery = k match {
      case "upsert" =>
        Streaming.upsertStream(stream(k).select(col("ts"),
          concat(lit("user"), col("user_id")).as("user_email"),
          col("event_type").as("habit"), col("value"), col("props").as("notes")),
          out(k, "store"), cp(k))
      case "rollup" =>
        val target = out(k, "daily")
        Streaming.habitDailyStream(stream(k)
            .withColumn("user_email", concat(lit("user"), col("user_id")))
            .withColumnRenamed("event_type", "habit"))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", cp(k))
          .foreachBatch { (b: Dataset[Row], _: Long) =>
            b.write.mode("overwrite").parquet(target); () }
          .trigger(Trigger.AvailableNow()).start()
      case "dedup" =>
        Streaming.dedupStreamIncremental(stream(k).select("doc_id", "text"),
          out(k, "corpus"), out(k, "pairs"), cp(k), "doc_id", "text", 0.5)
      case "cluster" =>
        Streaming.clusterLedgerIngest(stream(k).select("doc_id", "text"),
          out(k, "ledger"), cp(k), "doc_id", "text", 0.5)
      case "cms" =>
        Streaming.cmsIngest(stream(k), out(k, "state"), cp(k), "event_type")
    }

    def drain(k: String, tick: Int): Unit = {
      val q = start(k)
      if (!q.awaitTermination(TimeoutMs)) {
        q.stop()
        throw new RuntimeException(s"$k drain of tick $tick did not finish")
      }
      q.exception.foreach(e => throw e)
    }

    // set-up: fresh source and state directories for every kind
    val reps = ctx.setupReps(3) { _ =>
      Kinds.foreach { k =>
        Dirs.delete(src(k)); Dirs.delete(ctx.path("out", k)); Dirs.delete(cp(k))
        Files.createDirectories(Paths.get(src(k)))
        Files.createDirectories(Paths.get(ctx.path("out", k)))
      }
    }

    // warm-up, not timed: tick 0 bootstraps every kind's state and tick 1
    // runs each kind's first incremental drain (JIT, codegen)
    val w0 = System.nanoTime()
    for (tick <- 0 to 1; k <- Kinds)
      ctx.op("drain", s"streaming.$k") { land(k, tick); drain(k, tick) }
    val warmupS = (System.nanoTime() - w0) / 1e9

    var tick = 2
    ctx.timed { () =>
      Kinds.foreach { k =>
        ctx.op("drain", s"streaming.$k", Map("stream" -> k, "tick" -> tick)) {
          land(k, tick); drain(k, tick)
        }
      }
      tick += 1
      tick < maxTicks
    }

    // end state for the checks, read after the timed window
    val cms = Streaming.cmsMergedState(spark, out("cms", "state"))
    val cmsEst = ctx.params("cms_values").split(",").map(v => v -> cms.estimateCount(v)).toMap
    // the newest label snapshot of the cluster ledger
    val labels = new java.io.File(out("cluster", "ledger"), "labels").listFiles()
      .map(_.getPath).filter(_.contains("batch=")).maxBy(_.split("batch=").last.toLong)
    val ledgerMb = (k: String) => {
      val w = Files.walk(Paths.get(ctx.path("out", k)))
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum / 1e6
      finally w.close()
    }
    Map("workload" -> "stream_ticks", "setup_reps_s" -> reps,
      "warmup_s" -> warmupS, "ticks" -> tick,
      "upsert_store" -> out("upsert", "store"),
      "rollup_daily" -> out("rollup", "daily"),
      "dedup_pairs" -> out("dedup", "pairs"),
      "cluster_labels" -> labels,
      "cms_estimates" -> cmsEst, "cms_total" -> cms.totalCount,
      "ledger_mb" -> Map("dedup" -> ledgerMb("dedup"), "cluster" -> ledgerMb("cluster")))
  }
}
