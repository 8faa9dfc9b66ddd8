package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analytics.Habits
import graft.load.{EventStore, Merge}
import graft.transform.HabitTransform

/** `habits_daily`: the paper's cron ingest beside its dashboard reads.
  *
  * Set-up bootstraps the store and the daily rollup from sheet snapshot
  * 0. Each timed step ingests the next full snapshot (read the whole
  * sheet, unpivot, upsert, refresh the rollup for the days the batch
  * touched) and then runs every panel of the dashboard set once against
  * the store. The answers given after the last ingest are kept for the
  * output check. */
object HabitsDaily {

  private def sheet(ctx: Ctx, k: Int) = f"${ctx.inputs}/sheets/sheet_$k%03d.csv"

  private def readSheet(ctx: Ctx, k: Int): DataFrame =
    ctx.spark.read.option("header", "true").csv(sheet(ctx, k))

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val store = ctx.path("store")
    var rollupVersion = 0
    def rollupPath(v: Int) = ctx.path("rollup", s"v$v")

    def storeFiles(): Set[java.nio.file.Path] = {
      val w = Files.walk(Paths.get(store))
      try w.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSet
      finally w.close()
    }

    // The first load goes through the same merge as every later ingest
    // (against an empty store), as the reference's first run does:
    // `EventStore.write` alone keeps duplicate keys from double-submitted
    // rows, which the upsert then never collapses.
    def bootstrap(dir: String, rollup: String): Unit = {
      val events = HabitTransform.toEvents(readSheet(ctx, 0))
      EventStore.write(Merge.upsertEvents(events.limit(0), events), dir)
      Habits.habitDailyState(EventStore.read(spark, dir)).write.parquet(rollup)
    }
    // every rep bootstraps anew; the last one is kept
    val reps = ctx.setupReps(3) { r =>
      val (s, ro) = if (r < 2) (ctx.path(s"setup$r", "store"), ctx.path(s"setup$r", "rollup"))
                    else (store, rollupPath(0))
      bootstrap(s, ro)
    }

    def ingest(k: Int): Unit = {
      val wide = t.span("sources.read_sheet")(readSheet(ctx, k))
      val events = t.span("transform.toEvents")(HabitTransform.toEvents(wide))
      val before = if (t.enabled) storeFiles() else Set.empty[java.nio.file.Path]
      t.span("load.upsert")(EventStore.upsert(spark, store, events))
      if (t.enabled) {
        val written = storeFiles() -- before
        t.note("load.upsert", "files_written", written.size)
        t.note("load.upsert", "partitions_rewritten", written.map(_.getParent).size)
      }
      t.span("analytics.rollup") {
        val touched = events.select(Habits.dayBucket(col("ts")).as("day")).distinct()
        val kept = spark.read.parquet(rollupPath(rollupVersion))
          .join(touched, Seq("day"), "left_anti")
        val fresh = Habits.habitDailyState(EventStore.read(spark, store)
          .join(broadcast(touched), Habits.dayBucket(col("ts")) === touched("day"), "left_semi"))
        Habits.mergeDailyState(kept, fresh).write.parquet(rollupPath(rollupVersion + 1))
      }
      rollupVersion += 1
      Dirs.delete(rollupPath(rollupVersion - 1))
    }

    val users = ctx.params("sheet_users").toInt
    val start = ctx.params("sheet_start")
    val maxIngests = ctx.params("max_ingests").toInt
    val rng = new scala.util.Random(ctx.params("seed").toLong)

    val lastAnswers = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]

    /** Run every dashboard panel once against the store as of ingest `k`. */
    def panels(k: Int): Unit = {
      val user = s"user${rng.nextInt(users)}@example.com"
      // the newest sheet day is start + history + k - 1 (local dates)
      val last = java.time.LocalDate.parse(start)
        .plusDays(ctx.params("sheet_history_days").toLong + k - 1)
      val to = last.plusDays(2).toString
      val from14 = last.minusDays(13).toString
      val from7 = last.minusDays(6).toString
      def ts(d: String): Column = to_timestamp(lit(d))
      def ev = EventStore.read(spark, store)
      val defs: Seq[(String, () => DataFrame)] = Seq(
        "valueByDay" -> (() => Habits.valueByDay(ev, lit(user),
          "meditation_minutes", ts(from14), ts(to))),
        "completionPct" -> (() => Habits.completionPct(ev, lit(user),
          Seq("workout", "skin_care"), ts(from7), ts(to))),
        "distinctHabits" -> (() => Habits.distinctValues(ev, "habit")),
        "distinctUsers" -> (() => Habits.distinctValues(ev, "user_email")),
        "recentEvents" -> (() => Habits.recentEvents(ev, 20,
          Seq(col("user_email"), col("habit")))),
        "rollingDailyAvg" -> (() => Habits.rollingDailyAvg(ev,
          Seq("mood_score", "sleep_hours"), start, 7)),
        "streaks" -> (() => Habits.streaks(ev, 1.0)),
        "sqlDaily" -> (() => {
          Habits.registerDashboardViews(ev)
          spark.sql(s"""SELECT habit, sum(count_done) AS done,
                          round(avg(avg_value), 6) AS avg_value
                        FROM habit_daily WHERE day >= TIMESTAMP '$from7'
                        GROUP BY habit ORDER BY habit""")
        }),
        "sqlEvents" -> (() => {
          Habits.registerDashboardViews(ev)
          spark.sql("""SELECT user_email, count(*) AS n FROM habit_events
                       WHERE habit = 'workout' AND value >= 1
                       GROUP BY user_email ORDER BY user_email""")
        }))
      defs.foreach { case (name, build) =>
        val span = s"analytics.panel.$name"
        var df: DataFrame = null
        val rows = ctx.op("panel", span) { df = build(); df.collect().toSeq }
        if (df != null) t.notePlan(span, df)
        lastAnswers(name) = Map("k" -> k, "user" -> user, "from14" -> from14,
          "from7" -> from7, "to" -> to, "anchor" -> start,
          "columns" -> Option(df).map(_.columns.toSeq).getOrElse(Nil),
          "rows" -> rows.getOrElse(Nil))
      }
    }

    // warm-up: one ingest and every panel once, not timed (JIT, codegen)
    val w0 = System.nanoTime()
    ingest(1); panels(1)
    val warmupS = (System.nanoTime() - w0) / 1e9

    var k = 1
    ctx.timed { () =>
      k += 1
      val rows = Files.readAllLines(Paths.get(sheet(ctx, k))).size - 1
      ctx.op("ingest", "ingest", Map("rows" -> rows, "k" -> k))(ingest(k))
      panels(k)
      k < maxIngests
    }

    val files = storeFiles().toSeq
    Map("workload" -> "habits_daily", "setup_reps_s" -> reps,
      "warmup_s" -> warmupS, "ingests" -> k,
      "store" -> store, "rollup" -> rollupPath(rollupVersion),
      "store_bytes" -> files.map(Files.size(_)).sum,
      "store_files" -> files.size,
      "store_partitions" -> files.map(_.getParent).distinct.size,
      // only answers given against the final store can be checked
      "panels_last" -> lastAnswers.filter(_._2("k") == k).toMap)
  }
}

/** Recursive delete of a local directory (absent is fine). */
object Dirs {
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally w.close()
    }
  }
}
