package graft

import graft.analytics.Habits
import graft.config.{EtlConfig, HabitSpec}
import graft.ext.{Classify, Dedup, History, MediaRecord, Multimodal, Similarity, Skew, TextAnalysis}
import graft.functions.Aggregators
import graft.load.Merge
import graft.streaming.Streaming
import graft.transform.HabitTransform
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryHelpers._

/** Streaming analogs, in-engine classifiers, and the versioned store (SURVEY §2.7, §7.5) — one slice of [[SparkEntry.queries]], split from the monolithic
  * registry for maintainability (no behavior change). Conventions for
  * hash-stable compares are documented on [[SparkEntry]]. */
private[graft] object QueriesStreamStore {
  val map: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── Extension scope: streaming analog of the rollup (SURVEY §2.7) ──
    // Streaming as-of enrichment: per-key right-side timeline state in
    // flatMapGroupsWithState binds each click to the freshest prior
    // purchase — the one as-of shape a stream-stream join can't express
    // (unbounded lookback). The one-shot replay equals the batch as-of,
    // so it shares the ASOF oracle with the three batch forms.
    "q_asof_stream" -> ((s, dir) =>
      Streaming.asofStreamAvailableNow(s, dir, "click", "purchase",
          Streaming.nextQueryName("graft_aas"))
        .select(col("event_id"), ntz(col("ts")).as("ts"), col("user_email"),
          ntz(col("asof_ts")).as("asof_ts"),
          r6(col("asof_pvalue")).as("asof_pvalue"))
        .orderBy(col("event_id"))),

    // Stream-stream interval join (both sides watermarked, event time
    // bounded in both directions so join state expires), replayed
    // one-shot and oracled against the batch theta join.
    "q_interval_join_stream" -> ((s, dir) =>
      Streaming.intervalJoinAvailableNow(s, dir, "click", "purchase",
          lower = "2 hours", upper = "0 seconds",
          Streaming.nextQueryName("graft_ijs"))
        .select(col("l_event_id"), col("r_event_id"),
          ntz(col("l_ts")).as("l_ts"), col("l_user_email").as("user_email"),
          ntz(col("r_ts")).as("r_ts"))
        .orderBy(col("l_event_id"), col("r_event_id"))),

    // LEFT OUTER stream-stream interval join: null-padded results may
    // only emit once the watermark proves no future match can arrive —
    // the staged sentinel batches drive that progression so the replay
    // equals the batch left interval join exactly (see
    // Streaming.intervalJoinOuterAvailableNow).
    "q_interval_join_outer_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ijo_")
      try {
        Streaming.intervalJoinOuterAvailableNow(s, dir, "click",
            "purchase", lower = "2 hours", upper = "0 seconds",
            tmp.toString, Streaming.nextQueryName("graft_ijo"))
          .select(col("l_event_id"), col("r_event_id"),
            ntz(col("l_ts")).as("l_ts"),
            col("l_user_email").as("user_email"),
            ntz(col("r_ts")).as("r_ts"))
          .orderBy(col("l_event_id"), col("r_event_id"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // FULL OUTER stream-stream interval join — both sides' unmatched
    // rows null-pad once their state provably cannot match, through
    // the same sentinel-driven watermark progression.
    "q_interval_join_full_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ijf_")
      try {
        Streaming.intervalJoinOuterAvailableNow(s, dir, "click",
            "purchase", lower = "2 hours", upper = "0 seconds",
            tmp.toString, Streaming.nextQueryName("graft_ijf"),
            joinType = "fullOuter")
          .select(col("l_event_id"), col("r_event_id"),
            ntz(col("l_ts")).as("l_ts"),
            coalesce(col("l_user_email"), col("r_user_email"))
              .as("user_email"),
            ntz(col("r_ts")).as("r_ts"))
          .orderBy(col("l_event_id"), col("r_event_id"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    "q_habit_daily_stream" -> ((s, dir) =>
      Streaming.habitDailyAvailableNow(s, dir, sumHabit = "purchase",
          Streaming.nextQueryName("graft_hds"))
        .select(ntz(col("day")).as("day"), col("user_email"), col("habit"),
          col("count_done"), r6(col("avg_value")).as("avg_value"),
          r6(col("sum_meditation")).as("sum_meditation"))
        .orderBy(col("day"), col("user_email"), col("habit"))),

    // Arbitrary stateful processing (flatMapGroupsWithState): per-user
    // (last ts, session counter) state sessionizes the stream; the
    // one-shot replay equals the batch gaps-and-islands and shares its
    // oracle. user_id rides as the typed string key and is cast back
    // for oracle parity.
    "q_sessionize_stream" -> ((s, dir) =>
      Streaming.sessionizeAvailableNow(s, dir, gapMinutes = 30,
          Streaming.nextQueryName("graft_ses"))
        .groupBy(col("user_email").cast("long").as("user_email"))
        .agg(max(col("session_id")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_email"))),

    // ── Extension scope: in-engine classifiers (ext.Classify) ─────────
    // Multinomial NB language classifier trained on doc_id % 5 != 0 and
    // scored on the held-out fifth; integer-quantized log-probs make
    // the scores exact longs, so the oracle replays training AND every
    // prediction bit for bit.
    "q_nb_classifier" -> ((s, dir) =>
      Classify.naiveBayes(Tables.read(s, dir, "documents"),
          "doc_id", "text", "lang", holdMod = 5)
        .orderBy(col("doc_id"))),

    // Consistent-hash ring sharding: stable export-shard assignment —
    // growing 8 → 9 shards moves only keys whose ring successor is a
    // NEW vnode (≈ 1/9 of docs), vs near-total reassignment under
    // hash % shards. Pure per-row expression over the plan-time
    // literal ring; per-shard counts + how many keys the growth moves.
    "q_consistent_shard" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          graft.ext.Sampling.ringShard(col("doc_id"), 8, 4).as("shard"),
          graft.ext.Sampling.ringShard(col("doc_id"), 9, 4).as("s9"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("s9") =!= col("shard"), 1)).as("n_moved"))
        .orderBy(col("shard"))),

    // Zipf rank–frequency fit: OLS slope/intercept of log2(freq) vs
    // log2(rank) over the word census — the one-number corpus health
    // monitor (natural text ≈ slope −1). Milli-unit quantization per
    // point BEFORE the long-exact OLS sums.
    "q_zipf" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables.read(s, dir, "documents"), "text")),

    // χ² feature selection: which terms are informative about
    // lang = 'en' — exact 2×2 document-frequency contingency per term,
    // long-arithmetic determinant/denominator, one fixed double chain
    // for the 1e-6-unit report. One term-keyed aggregate; the ranking
    // runs on the vocabulary domain.
    "q_chi2_terms" -> ((s, dir) =>
      Classify.chiSquareTerms(Tables.read(s, dir, "documents"),
          "doc_id", "text", "lang", posLabel = "en", topK = 20)
        .orderBy(col("rank"))),

    // Linear quality probe (the fastText/CCNet "cheap classifier"
    // step): 3 full-batch gradient iterations with per-row gradient
    // contributions quantized to 2^-20-unit longs before the sum, so
    // every weight — and therefore every margin — replays bit-exactly
    // in the unrolled-CTE oracle. Each iteration is one map-side
    // partial global aggregate: iters passes, O(d) driver state,
    // zero data shuffle.
    // The label is the long-document bit (n_chars ≥ its rough median)
    // — the synthetic corpus draws every lang from one vocabulary, so
    // length is the only signal a linear probe can find; the probe
    // recovers it at ~99.6% from the centered features, demonstrating
    // real convergence rather than majority-class collapse.
    "q_quality_logreg" -> ((s, dir) =>
      Classify.logRegQuality(Tables.read(s, dir, "documents"),
          "doc_id", "text", "n_chars", col("n_chars") >= 306,
          iters = 3, lr = 0.5)
        .orderBy(col("doc_id"))),

    // Classifier reliability bins — the EVAL stage closing the probe
    // loop: margins clamped into 8 equal-width bins over [-1e6, 1e6),
    // per-bin volume, positives, and the exact-ppm positive rate.
    // All-integer arithmetic on top of the proven logreg chain.
    "q_calibration" -> ((s, dir) =>
      Classify.calibration(
          Classify.logRegQuality(Tables.read(s, dir, "documents"),
            "doc_id", "text", "n_chars", col("n_chars") >= 306,
            iters = 3, lr = 0.5),
          "margin_e6", "y", lo = -1000000L, hi = 1000000L, buckets = 8)
        .orderBy(col("bucket"))),

    // Length-curriculum staging without a global sort: quantile
    // thresholds from the bounded length census (integer-only
    // cum·stages ≥ j·N test), assignment as a narrow expression over
    // collected threshold literals — the scalable ntile replacement
    // for short-to-long curriculum training.
    "q_curriculum" -> ((s, dir) =>
      graft.ext.Curation.curriculumByLength(
          Tables.read(s, dir, "documents"), "doc_id", "text", stages = 4)
        .orderBy(col("doc_id"))),

    // The probe AS A PIPELINE STAGE: score the corpus, keep the
    // positive margins, shard the survivors into training-export
    // order — classifier-gated curation composed end to end, every
    // piece individually oracle-proven and the composition replayed
    // whole (probe CTE chain → filter → md5 shard ranking).
    "q_probe_gated_export" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val kept = docs.join(
        Classify.logRegQuality(docs, "doc_id", "text", "n_chars",
            col("n_chars") >= 306, iters = 3, lr = 0.5)
          .filter(col("pred") === 1).select("doc_id"),
        "doc_id")
      graft.ext.Sampling.exportShards(kept, col("doc_id"), numShards = 4)
        .select(col("shard"), col("shard_pos"), col("doc_id"))
        .orderBy(col("shard"), col("shard_pos"))
    }),

    // Majority-vote kNN labeler over the int8-quantized exact dot:
    // label propagation from the train split to the held-out vectors.
    "q_knn_classify" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Classify.knnClassify(
          emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
          emb.filter(pmod(col("vec_id"), lit(5)) === 0),
          "vec_id", "embedding", "label", k = 5)
        .orderBy(col("query_id"))
    }),

    // ── Extension scope: versioned store with time travel ─────────────
    // Lakehouse transaction log reduced to its core: create (v0) →
    // keyed upsert via partition-scoped copy-on-write (v1) → blind
    // append (v2), then TIME TRAVEL back through all three snapshots.
    // The oracle recomputes each version's expected contents from the
    // raw events; matching all three proves the manifest log isolates
    // versions (v0 unchanged after two later commits) and the upsert
    // rewrote merged days without losing carried files.
    "q_time_travel" -> ((s, dir) => {
      import graft.load.VersionedStore
      val ev = Tables.eventsAsHabits(s, dir)
      val third = ev.filter(col("event_id") % 3 === 0)
      val tmp = java.nio.file.Files.createTempDirectory("graft_vstore_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev.filter(col("event_id") % 3 =!= 0), store)
        VersionedStore.upsert(s, store,
          third.withColumn("value", col("value") * 2))
        VersionedStore.append(s, store,
          third.withColumn("ts", col("ts") + expr("INTERVAL 1000 DAYS"))
            .withColumn("value", col("value") * 3))
        (0 to 2).map { v =>
          VersionedStore.snapshot(s, store, Some(v))
            .agg(count(lit(1)).as("n_rows"),
              countDistinct(col("user_email")).as("n_users"),
              r6(sum(col("value"))).as("sum_value"),
              r6(max(col("value"))).as("max_value"))
            .withColumn("version", lit(v).cast("long"))
            .select(col("version"), col("n_rows"), col("n_users"),
              col("sum_value"), col("max_value"))
        }.reduce(_ unionByName _)
          .orderBy(col("version"))
          // materialize before the finally deletes the store files
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Durable rollback (Delta RESTORE): after an upsert and a delete
    // mutate the store, RESTORE TO v0 publishes a new head whose
    // file set is v0's — metadata-only, data files shared by
    // reference, history intact. The head read must equal the
    // original snapshot exactly, which is what the raw-table oracle
    // proves (both mutations would change the aggregate if any of
    // them leaked through).
    "q_store_restore" -> ((s, dir) => {
      import graft.load.VersionedStore
      val ev = Tables.eventsAsHabits(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_restore_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev, store)
        VersionedStore.upsert(s, store,
          ev.filter(col("event_id") % 3 === 0)
            .withColumn("value", col("value") * 2))
        VersionedStore.delete(s, store, col("event_id") % 5 === 0)
        val rv = VersionedStore.restore(s, store, 0)
        require(rv == 3, s"restore must publish a NEW head, got $rv")
        require(VersionedStore.versions(s, store) == Seq(0, 1, 2, 3),
          "restore must keep the rolled-back history time-travelable")
        VersionedStore.snapshot(s, store) // head — v0 restored
          .groupBy(col("habit"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_email")).as("n_users"),
            r6(sum(col("value"))).as("sum_value"))
          .orderBy(col("habit"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Zone-map FILE skipping over the versioned store: both commits
    // range-cluster their files on the leading sort key and record
    // per-file (min, max) sidecars, so the narrow key-range read
    // plans — on the driver, from metadata alone — a strict subset
    // of the live files. The require makes the bench honest: if the
    // clustered layout ever stops pruning, the query fails rather
    // than silently benching a full scan. Results stay exact (the
    // real predicate still runs); the oracle is a plain filtered
    // aggregate over the same rows.
    "q_store_skipping" -> ((s, dir) => {
      import graft.load.VersionedStore
      val ev = Tables.eventsAsHabits(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_skip_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev.filter(col("event_id") % 2 === 0),
          store, rangeParts = 8)
        VersionedStore.append(s, store,
          ev.filter(col("event_id") % 2 =!= 0), rangeParts = 8)
        val sel = VersionedStore.snapshotWhere(s, store,
          "user_email", 10L, 39L)
        require(sel.inputFiles.length <
          VersionedStore.snapshot(s, store).inputFiles.length,
          "zone-map skipping planned a full scan — clustering broke")
        sel.groupBy(col("user_email"))
          .agg(count(lit(1)).as("n_events"),
            r6(sum(col("value"))).as("sum_value"))
          .orderBy(col("user_email"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Z-ORDERED store layout (OPTIMIZE ZORDER BY): the commit clusters
    // each day into Morton rectangles over (user_email, value) — per-day
    // cluster splitting (clusterParts) instead of day-first ranges —
    // and zone maps now record DOUBLE columns, so BOTH a user-range
    // read and a value-range read plan strict file subsets from the
    // log alone. Results stay exact (the predicate still runs); the
    // oracle is the plain filtered aggregate pair.
    "q_store_zorder" -> ((s, dir) => {
      import graft.load.{Layout, VersionedStore}
      val ev = Tables.eventsAsHabits(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_zstore_")
      try {
        val store = tmp.toString + "/store"
        val z = Layout.zValue(col("user_email"), 0, 1500,
          col("value"), 0, 600, bits = 12)
        VersionedStore.create(ev, store, clusterParts = 8,
          zorderBy = Some(z))
        val nAll = VersionedStore.snapshot(s, store).inputFiles.length
        val byUser = VersionedStore.snapshotWhere(s, store,
          "user_email", 3L, 7L)
        val byValue = VersionedStore.snapshotWhere(s, store,
          "value", 200.0, 600.0)
        require(byUser.inputFiles.length < nAll,
          "z-order skipping planned a full scan on the user range")
        require(byValue.inputFiles.length < nAll,
          "double zone maps planned a full scan on the value range")
        def agg1(name: String, df: DataFrame) =
          df.agg(count(lit(1)).as("n_events"),
            r6(sum(col("value"))).as("sum_value"))
            .select(lit(name).as("sel"), col("n_events"), col("sum_value"))
        agg1("user_range", byUser).unionByName(agg1("value_range", byValue))
          .orderBy(col("sel"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Distribution drift monitor: PSI between the click and purchase
    // value distributions over exact histogram counts; per-bin
    // contributions quantized to 1e-6 units replay engine-exactly
    // (ln on identical doubles, same discipline as the NB oracle).
    // The data-sized work is two count aggregates; the PSI arithmetic
    // runs on 16 rows.
    "q_drift_psi" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      graft.ext.Profile.psiDrift(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          "value", lo = 0.0, hi = 512.0, buckets = 16)
        .orderBy(col("bucket"))
    }),

    // Rank-normalization window analytics: percent_rank (the ECDF
    // position every percentile-feature pipeline starts from) and
    // decile ntile per event type, tie-broken to a total order so
    // both replay exactly. One window shuffle by type.
    "q_percent_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.read(s, dir, "events")
        .filter(col("value").isNotNull &&
          col("event_type").isin("purchase", "click"))
        .select(col("event_type"), col("event_id"),
          r6(percent_rank().over(w)).as("pr"),
          ntile(10).over(w).cast("long").as("decile"))
        .orderBy(col("event_type"), col("event_id"))
    }),

    // Robust outlier census: median/MAD modified z-score per event
    // type (z = 3.5) — the fences don't move when the outliers
    // arrive, unlike mean/stddev. Exact interpolated quantiles
    // replay bit-level across engines (the q_percentiles precedent).
    "q_robust_outliers" -> ((s, dir) =>
      graft.ext.Profile.robustOutliers(Tables.read(s, dir, "events"),
          "value", Seq("event_type"), z = 3.5)
        .orderBy(col("event_type"))),

    // Corpus n-gram diversity per source: distinct / total word
    // 3-grams in ppm — the cheap compression-ratio proxy (template
    // spam and boilerplate floods collapse it; natural text sits
    // high). One shingle explode + one aggregate; the corpus-level
    // companion of the per-doc repetition ratio.
    "q_ngram_diversity" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("sh"))
        .groupBy(col("source"))
        .agg(count_distinct(col("sh")).as("distinct_ngrams"),
          count(lit(1)).as("total_ngrams"))
        .withColumn("diversity_ppm",
          floor(col("distinct_ngrams") * lit(1000000L) /
            col("total_ngrams")).cast("long"))
        .orderBy(col("source"))),

    // The one-look corpus-health dashboard: every monitor's headline
    // number as one (metric, value) row — KS drift, total PSI, robust
    // outlier rows, Zipf slope. Pure composition of proven operators;
    // the dashboard any ingest pipeline pins to its run report.
    "q_corpus_health" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      val click = ev.filter(col("event_type") === "click")
      val purchase = ev.filter(col("event_type") === "purchase")
      val zipf = TextAnalysis.zipfFit(
          Tables.read(s, dir, "documents"), "text")
        .select(lit("zipf_slope_e6").as("metric"),
          col("slope_e6").as("value"))
      val ks = graft.ext.Profile.ksDrift(click, purchase,
          "value", lo = 0.0, hi = 512.0, buckets = 256)
        .select(lit("ks_e6").as("metric"), col("ks_e6").as("value"))
      val psi = graft.ext.Profile.psiDrift(click, purchase,
          "value", lo = 0.0, hi = 512.0, buckets = 16)
        .agg(sum(col("psi_e6")).as("value"))
        .select(lit("psi_total_e6").as("metric"), col("value"))
      val outl = graft.ext.Profile.robustOutliers(ev, "value",
          Seq("event_type"))
        .agg(sum(col("n_outliers")).as("value"))
        .select(lit("outlier_rows").as("metric"), col("value"))
      ks.unionByName(outl).unionByName(psi).unionByName(zipf)
        .orderBy(col("metric"))
    }),

    // Kolmogorov–Smirnov arm of the drift monitor: worst cumulative
    // ECDF gap between the same two distributions, argmax'd on the
    // cross-multiplied INTEGER numerator so bin choice and gap
    // ordering replay engine-exactly; 256 fine bins keep the data
    // work at two histogram passes.
    "q_ks_drift" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      graft.ext.Profile.ksDrift(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          "value", lo = 0.0, hi = 512.0, buckets = 256)
    }),

    // Dyadic EWMA smoothing of each user's purchase values: α = 1/2
    // over a 16-row frame, carried as the exact integer numerator
    // ewma_c16 (centi-units · 2^16) so the trend line is
    // bit-reproducible — the per-key trend feature a monitoring or
    // curriculum pipeline derives from raw event streams.
    "q_ewma" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      graft.ext.Profile.dyadicEwma(
          ev.filter(col("event_type") === "purchase"),
          Seq("user_id"), Seq("ts", "event_id"), "value")
        .select(col("user_id"), col("event_id"),
          ntz(col("ts")).as("ts"), col("ewma_c16"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // k-anonymity / l-diversity release audit: QI = (event_type, day,
    // value band), sensitive = user_id; per event_type, how many QI
    // groups fall under k = 5 rows or l = 3 distinct users, and how
    // many rows that exposes. One corpus aggregate + one domain-sized
    // summary aggregate.
    "q_kanon" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
      graft.ext.Privacy.anonymityAudit(ev,
          Seq(col("event_type"), to_date(col("ts")),
            floor(col("value") / 32.0)),
          col("user_id"), reportAs = "event_type", k = 5, l = 3)
        .orderBy(col("event_type"))
    }),

    // Metadata-only aggregates: COUNT(*) and min/max of an integral
    // column answered by driver-side arithmetic over the sidecar row
    // counts and zone maps — no scan, no task. The spec proves the
    // no-scan claim by deleting the data files; here the oracle proves
    // exactness against the raw table.
    "q_store_meta_agg" -> ((s, dir) => {
      import graft.load.VersionedStore
      val ev = Tables.eventsAsHabits(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_meta_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev.filter(col("event_id") % 2 === 0), store)
        VersionedStore.append(s, store,
          ev.filter(col("event_id") % 2 =!= 0))
        val n = VersionedStore.snapshotRowCount(s, store)
        val (mn, mx) = VersionedStore.snapshotMinMaxLong(s, store,
          "event_id").getOrElse(
          throw new IllegalStateException("zone maps missing"))
        val sp = s
        import sp.implicits._
        Seq((n, mn, mx)).toDF("n_rows", "min_id", "max_id")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Row-level write lineage from metadata alone: the commit id is
    // parsed from the file path Spark tracks per row — no stored
    // column, no join. Even event_ids landed in commit 0, odd in
    // commit 1, so the oracle is the parity split of the raw table.
    "q_store_lineage" -> ((s, dir) => {
      import graft.load.VersionedStore
      val ev = Tables.eventsAsHabits(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_lin_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev.filter(col("event_id") % 2 === 0), store)
        VersionedStore.append(s, store,
          ev.filter(col("event_id") % 2 =!= 0))
        VersionedStore.snapshotWithLineage(s, store)
          .groupBy(col("_commit"))
          .agg(count(lit(1)).as("n_rows"),
            r6(sum(col("value"))).as("sum_value"))
          .orderBy(col("_commit"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Needle-in-haystack id lookup: commits enable parquet bloom
    // filters on event_id, and snapshotPoint prunes — from footer
    // metadata, on the driver, before any task is scheduled — every
    // file whose blooms prove the id absent. Three commits × 30 days
    // of files collapse to the one file that can hold the row.
    "q_store_pointlookup" -> ((s, dir) => {
      import graft.load.VersionedStore
      val ev = Tables.eventsAsHabits(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_point_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev.filter(col("event_id") % 3 === 0),
          store, bloomCols = Seq("event_id"))
        for (m <- 1 to 2)
          VersionedStore.append(s, store,
            ev.filter(col("event_id") % 3 === m),
            bloomCols = Seq("event_id"))
        val hit = VersionedStore.snapshotPoint(s, store,
          "event_id", 123L)
        require(hit.inputFiles.length <= 2 && hit.inputFiles.nonEmpty,
          s"bloom point skipping kept ${hit.inputFiles.length} files")
        hit.select(col("event_id"), ntz(col("ts")).as("ts"),
            col("user_email"), col("habit"), col("value"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Stream-static enrichment: events stream ⋈ broadcast customer dim
    // → per-segment rollup; the one-shot replay equals the batch join,
    // which is the oracle.
    "q_stream_enrich" -> ((s, dir) =>
      Streaming.enrichAvailableNow(s, dir,
          Streaming.nextQueryName("graft_enrich"))
        .orderBy(col("c_mktsegment"))),

    // Streaming arm of the drift monitor: the purchase stream replays
    // in one AvailableNow batch against the click reference, the
    // foreachBatch sink collects the per-bin PSI rows — identical to
    // the batch q_drift_psi, and a second batch would double the row
    // count and fail the gate loudly.
    // Streaming arm of the Zipf health monitor: the word census the
    // vocabIngest ledger already maintains IS the fit's sufficient
    // statistic — two ticks' censuses sum and the derived slope must
    // equal the batch q_zipf (shared oracle). One maintained state,
    // two consumers (tokenizer trainer + corpus-health monitor).
    // Streaming arm of the collocation miner: per-tick unigram +
    // adjacent-bigram censuses are additive across doc-partitioned
    // ticks, so PMI off the summed ledger equals the batch
    // q_pmi_collocations (shared oracle) — collocation drift watched
    // at ingest from vocabulary-sized state.
    "q_pmi_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_pmis_")
      try Streaming.pmiAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_pmi"), minCount = 5)
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(50)
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Streaming arm of the market-basket miner: ticks hash-split ON
    // THE BASKET KEY (the documented arrival contract — a basket split
    // across ticks would under-count its own pairs), so item/pair
    // supports and the basket count sum to the batch censuses and the
    // derived rules equal q_assoc_rules (shared oracle).
    "q_assoc_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ascs_")
      try Streaming.assocAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_assoc"), minSupport = 2)
        .select(col("item_a"), col("item_b"), col("supp_ab"),
          col("conf_ab"), col("conf_ba"), col("lift"))
        .orderBy(col("item_a"), col("item_b"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Streaming arm of the safety blocklist: each tick scans its own
    // docs against the broadcast phrase list and appends flagged rows
    // to the ledger; ticks partition the corpus, so the merged ledger
    // equals the batch q_blocklist scan (shared oracle) — a review
    // queue fed at ingest, corpus never rescanned.
    "q_blocklist_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_blk_")
      try Streaming.blocklistAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_blocklist"),
          Seq("vector", "merge batch", "slow scan", "big query"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Streaming arm of the whitening direction: each tick writes its
    // vectors' integer scatter censuses (n, S1, sum xx^T — all vector-
    // additive); the top-PC off the summed ledger equals the batch
    // q_embed_top_pc (shared oracle) — dim^2-sized state, corpus never
    // rescanned.
    "q_top_pc_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_scat_")
      try Streaming.scatterAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_scatter"), 8)
        .orderBy(col("d"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Streaming arm of the label-agreement gate: each tick writes its
    // items' vote-cell census (the panel's sufficient statistic, item-
    // additive); kappa off the merged ledger equals the batch
    // q_fleiss_kappa (shared oracle) — label hygiene at ingest.
    "q_kappa_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_kap_")
      try Streaming.kappaAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_kappa"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Streaming arm of the winnowing fingerprint census: each tick
    // fingerprints its own docs (deque kernel) and appends the per-doc
    // census; ticks partition the corpus, so the merged ledger equals
    // the batch q_winnow_census (shared oracle) — the local-overlap
    // detector's sufficient statistic maintained at ingest.
    "q_winnow_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_winn_")
      try Streaming.winnowAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_winnow"), 16, 16)
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    "q_zipf_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_zipfs_")
      try Streaming.zipfAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_zipf"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Streaming arm of the mergeable-quantile rollup: per-tick exact
    // histograms are bin-additive, so quantiles off the summed ledger
    // equal the batch q_quantile_rollup (shared oracle) — percentile
    // monitoring at ingest with sketch-sized state.
    "q_quantile_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_qrs_")
      try Streaming.quantileRollupAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_qroll"))
        .select(col("habit"), col("q_ppm"), col("bucket"),
          col("n_total"), col("est"))
        .orderBy(col("habit"), col("q_ppm"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Late-arrival audit at ingest: rows older than the prior ticks'
    // high-watermark minus the allowed lag are LEDGERED (not dropped)
    // — the lateness profile that sizes a production watermark. Ticks
    // split on the md5 key so the oracle replays tick membership.
    "q_late_audit" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_late_")
      try Streaming.lateAuditAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_late"))
        .orderBy(col("event_type"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Ensemble dedup verdict: a pair is a duplicate when ≥ 2 of the 3
    // independent text detectors (MinHash Jaccard, SimHash Hamming,
    // blocked n-gram Jaccard) agree — the precision move production
    // dedup makes, since each detector alone has its own false-positive
    // geometry. Pure composition of three proven pair relations.
    "q_dedup_ensemble" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val mh = Dedup.minhashDupPairs(d, "doc_id", "text", threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val sh = Dedup.simhashDupPairs(d, "doc_id", "text", maxHamming = 7)
        .select(col("id_a"), col("id_b"))
      val ng = Dedup.ngramDupPairs(d, "doc_id", "text", "n_chars",
          threshold = 0.5, blockWidth = 50)
        .select(col("id_a"), col("id_b"))
      mh.unionByName(sh).unionByName(ng)
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("votes"))
        .filter(col("votes") >= 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Streaming arm of the bloom-pruned join: per-tick dim blooms OR
    // into exactly the one-pass bitmap, so the merged runtime filter
    // prunes identically to the batch build (shared oracle — the
    // exact join; blooms may only shed non-matches).
    "q_bloom_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_blooms_")
      try Streaming.bloomJoinAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_bloom"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Streaming arm of the HLL distinct-count rollup: per-tick daily
    // sketches union by register max (associative/commutative/
    // idempotent), so weekly estimates off the accumulated ledger
    // satisfy the same 5% envelope as the batch rollup (shared
    // oracle).
    "q_hll_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_hlls_")
      try Streaming.hllRollupAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_hll"))
        .orderBy(col("week"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Streaming arm of the CMS frequency monitor: per-tick sketches
    // are cell-wise ADDITIVE under one hash family, so the merged
    // ingest state answers exactly like the single-pass batch sketch —
    // same exact counts, same one-sided eps·N guarantee (shared
    // oracle with q_cms_freq).
    "q_cms_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cmss_")
      try {
        val ev = Tables.read(s, dir, "events")
        val n = ev.filter(col("event_type").isNotNull)
          .agg(count(lit(1)).as("_n"))
        Streaming.cmsAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_cms"))
          .join(broadcast(n))
          .select(col("value").as("event_type"), col("exact_n"),
            (col("est_n") >= col("exact_n") &&
              col("est_n") <= col("exact_n") +
                ceil(lit(0.001) * col("_n")).cast("long")).as("est_ok"))
          .orderBy(col("event_type"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Generalization ladder: COARSEN the value band (doubling width
    // per rung) until no (type, day, band) group violates k = 5 —
    // k-anonymization as a response, not just an audit. Driver loops
    // over rungs (one 1-row aggregate each, the Lloyd's contract) and
    // stops at the finest compliant resolution.
    "q_kanon_ladder" -> ((s, dir) =>
      graft.ext.Privacy.generalizationLadder(
        Tables.read(s, dir, "events"),
        Seq(col("event_type"), to_date(col("ts"))),
        col("value"), widths = Seq(32L, 64L, 128L, 256L, 512L), k = 5)),

    // Streaming arm of the k-anonymity audit: two hash ticks each
    // write their (QI, user) row-count census — the audit's ADDITIVE
    // sufficient statistic (per-group distinct users is not additive;
    // the census is) — and the derived release audit must equal the
    // batch q_kanon (shared oracle).
    "q_kanon_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_kanon_")
      try Streaming.kanonAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_kanon"))
        .orderBy(col("event_type"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    "q_drift_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_drift_")
      try Streaming.driftAvailableNow(s, dir, tmp.toString,
          Streaming.nextQueryName("graft_drift"))
        .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // OPTIMIZE: two range-clustered commits leave every day split
    // across both, compact coalesces each day back to freshly
    // clustered files in a new commit — row-preserving (the oracle is
    // the plain aggregate over all events), file-count-reducing (the
    // require), history intact.
    "q_store_compact" -> ((s, dir) => {
      import graft.load.VersionedStore
      val ev = Tables.eventsAsHabits(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_compact_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev.filter(col("event_id") % 2 === 0),
          store, rangeParts = 8)
        VersionedStore.append(s, store,
          ev.filter(col("event_id") % 2 =!= 0), rangeParts = 8)
        val before = VersionedStore.snapshot(s, store).inputFiles.length
        VersionedStore.compact(s, store, maxFilesPerDay = 1,
          rangeParts = 4)
        val snap = VersionedStore.snapshot(s, store)
        require(snap.inputFiles.length < before,
          "compaction did not reduce the live file count")
        snap.groupBy(col("habit"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_email")).as("n_users"),
            r6(sum(col("value"))).as("sum_value"))
          .orderBy(col("habit"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Change data feed off the manifest diff: update / delete / insert
    // commits each produce exactly their own ops (unchanged rows
    // rewritten alongside real changes drop out), with old/new values
    // summed in exact 1e-6-unit longs.
    "q_version_diff" -> ((s, dir) => {
      import graft.load.VersionedStore
      val ev = Tables.eventsAsHabits(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_vdiff_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev, store)
        VersionedStore.upsert(s, store,
          ev.filter(col("event_id") % 3 === 0)
            .withColumn("value", col("value") * 2))
        VersionedStore.delete(s, store, col("user_email") % 7 === 0)
        VersionedStore.append(s, store,
          ev.filter(col("event_id") % 3 === 0)
            .withColumn("ts", col("ts") + expr("INTERVAL 1000 DAYS"))
            .withColumn("value", col("value") * 3))
        def sumE6(c: Column) =
          sum(coalesce(round(c * 1e6).cast("long"), lit(0L)))
        (1 to 3).map { v =>
          VersionedStore.changes(s, store, v - 1, v)
            .agg(count(lit(1)).as("n_rows"),
              sumE6(col("value_old")).as("sum_old_e6"),
              sumE6(col("value_new")).as("sum_new_e6"),
              max(col("op")).as("op_max"), min(col("op")).as("op_min"))
            .withColumn("to_version", lit(v).cast("long"))
            // op_min == op_max proves each commit produced ONE op kind
            .select(col("to_version"), col("op_min"), col("op_max"),
              col("n_rows"), col("sum_old_e6"), col("sum_new_e6"))
        }.reduce(_ unionByName _)
          .orderBy(col("to_version"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Incremental matview maintenance off the change feed: the daily
    // rollup is maintained by applying two commits' deltas (update,
    // then delete) — BIT-EQUAL to recomputing from the head snapshot,
    // which is exactly what the oracle does.
    "q_matview_incremental" -> ((s, dir) => {
      import graft.load.{IncrementalView, VersionedStore}
      val ev = Tables.eventsAsHabits(s, dir)
      val dims = Seq("day", "user_email", "habit")
      def e6(c: Column) = round(c * 1e6).cast("long")
      def withDay(df: DataFrame) =
        df.withColumn("day", date_trunc("day", col("ts")))
      val tmp = java.nio.file.Files.createTempDirectory("graft_mview_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev, store)
        VersionedStore.upsert(s, store,
          ev.filter(col("event_id") % 3 === 0)
            .withColumn("value", col("value") * 2))
        VersionedStore.delete(s, store, col("user_email") % 7 === 0)
        val mv0 = IncrementalView.fromSnapshot(
          withDay(VersionedStore.snapshot(s, store, Some(0))),
          dims, e6(col("value")))
        val mv2 = (1 to 2).foldLeft(mv0) { (mv, v) =>
          IncrementalView.applyDelta(mv,
            withDay(VersionedStore.changes(s, store, v - 1, v)),
            dims, e6(col("value_old")), e6(col("value_new")))
        }
        mv2.select(ntz(col("day")).as("day"), col("user_email"),
            col("habit"), col("n"), col("sum_e6"))
          .orderBy(col("day"), col("user_email"), col("habit"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Store growth audit, metadata-only: per-version COUNT(*) and
    // event_id min/max answered from sidecar row counts + zone maps
    // across create → append → delete — no version is ever scanned,
    // and the delete's day rewrites must keep the metadata exact.
    "q_store_history" -> ((s, dir) => {
      import graft.load.VersionedStore
      val ev = Tables.eventsAsHabits(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_hist_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev.filter(col("event_id") % 2 === 0), store)
        VersionedStore.append(s, store,
          ev.filter(col("event_id") % 2 =!= 0))
        VersionedStore.delete(s, store, col("user_email") % 9 === 0)
        val sp = s
        import sp.implicits._
        VersionedStore.versions(s, store).map { v =>
          val n = VersionedStore.snapshotRowCount(s, store, Some(v))
          val (mn, mx) = VersionedStore.snapshotMinMaxLong(s, store,
            "event_id", version = Some(v)).getOrElse(
            throw new IllegalStateException(s"zone maps missing at v$v"))
          (v.toLong, n, mn, mx)
        }.toDF("version", "n_rows", "min_id", "max_id")
          .orderBy(col("version"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Declarative MERGE INTO over the versioned store — the full SQL
    // clause set in one commit: delete matched zero-value rows, update
    // matched rows only when the source value is larger, insert new
    // rows gated by a source predicate. The oracle reconstructs the
    // final state with the same CASE logic from the raw table.
    "q_merge_into" -> ((s, dir) => {
      import graft.load.VersionedStore
      val ev = Tables.eventsAsHabits(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_merge_")
      try {
        val store = tmp.toString + "/store"
        VersionedStore.create(ev, store)
        val upd = ev.filter(col("event_id") % 4 === 0)
          .withColumn("value", col("value") * 3)
        val ins = ev.filter(col("event_id") % 5 === 0)
          .withColumn("event_id", col("event_id") + 10000000L)
          .withColumn("ts", col("ts") + expr("INTERVAL 2000 DAYS"))
          .withColumn("value", col("value") + 1)
        VersionedStore.mergeInto(s, store, upd.unionByName(ins),
          matchedUpdate = expr("s.value > t.value"),
          matchedDelete = expr("t.value = 0"),
          notMatchedInsert = expr("s.value <= 400"))
        VersionedStore.snapshot(s, store)
          .select(col("event_id"), ntz(col("ts")).as("ts"),
            col("user_email"), col("habit"), col("value"))
          .orderBy(col("event_id"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // JOIN-view incremental maintenance: a weighted fact⋈dim aggregate
    // kept current from BOTH stores' change feeds via the two-sided
    // delta rule ΔV = ΔA⋈B_new ∪ A_old⋈ΔB in signed long arithmetic —
    // the fact side re-values a third of its rows while the dim side
    // reweights some users and drops others, and the maintained view
    // must be BIT-EQUAL to the oracle's recompute of the final join.
    "q_matview_join" -> ((s, dir) => {
      import graft.load.{IncrementalView, VersionedStore}
      val ev = Tables.eventsAsHabits(s, dir)
      def e6(c: Column) = round(c * 1e6).cast("long")
      val contrib = e6(col("value") * col("weight"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_mvjoin_")
      try {
        val (factPath, dimPath) = (tmp.toString + "/fact", tmp.toString + "/dim")
        // the fact chain (create + upsert) and the dim chain (create +
        // upsert + delete) land in DISJOINT stores — overlap them
        // (the two-sided streaming tick's commit overlap): the view
        // advance below depends on both
        graft.streaming.Streaming.overlap(
          () => {
            // fact v0 = all events; v1 re-values every third event
            VersionedStore.create(ev, factPath)
            VersionedStore.upsert(s, factPath,
              ev.filter(col("event_id") % 3 === 0)
                .withColumn("value", col("value") * 2))
          },
          () => {
            // dim v0 = per-user weight; v1 reweights every 4th user,
            // v2 deletes every 11th — exercising the A_old⋈ΔB leg with
            // updates AND deletes
            val dim0 = ev.select(col("user_email")).distinct()
              .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
              .withColumn("weight", (col("user_email") % 5 + 1).cast("double"))
            VersionedStore.create(dim0, dimPath, sortCols = Seq("user_email"))
            VersionedStore.upsert(s, dimPath,
              dim0.filter(col("user_email") % 4 === 0)
                .withColumn("weight", col("weight") + 10),
              keys = Seq("user_email"), sortCols = Seq("user_email"))
            VersionedStore.delete(s, dimPath, col("user_email") % 11 === 0,
              sortCols = Seq("user_email"))
          })
        val a0 = VersionedStore.snapshot(s, factPath, Some(0))
          .select(col("user_email"), col("habit"), col("value"))
        val b0 = VersionedStore.snapshot(s, dimPath, Some(0))
          .select(col("user_email"), col("weight"))
        val mv0 = IncrementalView.fromSnapshot(
          a0.join(b0, "user_email"), Seq("habit"), contrib)
        val zA = IncrementalView.zRelation(
          VersionedStore.changes(s, factPath, 0, 1)
            .select(col("user_email"), col("habit"), col("op"),
              col("value_old"), col("value_new")))
        val zB = IncrementalView.zRelation(
          VersionedStore.changes(s, dimPath, 0, 2, keys = Seq("user_email"))
            .select(col("user_email"), col("op"),
              col("weight_old"), col("weight_new")))
        val bNew = VersionedStore.snapshot(s, dimPath)
          .select(col("user_email"), col("weight"))
        IncrementalView.applyJoinDelta(mv0, zA, bNew, a0, zB,
            Seq("user_email"), Seq("habit"), contrib)
          .orderBy(col("habit"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Streaming JOIN-view maintenance: events stream into the fact
    // store over THREE micro-batch commits (maxFilesPerTrigger=1 over
    // a 3-file staging) and each commit's manifest-diff change feed
    // advances the fact⋈dim view via applyJoinDelta — the head view
    // generation must equal recomputing the weighted join aggregate
    // over all events.
    "q_matview_join_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_jvs_")
      try {
        Streaming.joinViewAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_jview"))
          .orderBy(col("habit"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // TWO-SIDED streaming JOIN-view maintenance: the dim itself
    // changes mid-stream (batch 1 reweights every user%3==0 user)
    // while facts accrete over three commits — each tick advances the
    // view with BOTH stores' feeds (ΔA⋈B_new ∪ A_old⋈ΔB); the head
    // view must equal the weighted join aggregate under the FINAL dim.
    "q_matview_2sided_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_jv2_")
      try {
        Streaming.joinViewTwoSidedAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_jview2"))
          .orderBy(col("habit"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Exactly-once streaming ingest into the versioned store: the same
    // replay runs TWICE with fresh checkpoints — without the committed
    // batch-id dedup the second run would re-commit (n_versions = 2);
    // the oracle asserts one version and the untouched event rows.
    // Backfill → streaming handoff: half the history bulk-loads as one
    // commit, the live half streams into the SAME store exactly-once;
    // the snapshot must hold every event once across the seam, in
    // exactly two commits.
    "q_backfill_handoff" -> ((s, dir) => {
      import graft.load.VersionedStore
      val tmp = java.nio.file.Files.createTempDirectory("graft_bfh_")
      try {
        val store = tmp.toString + "/store"
        Streaming.backfillHandoffAvailableNow(s, dir, store, s"$tmp/cp",
          Streaming.nextQueryName("graft_bfh"))
        VersionedStore.snapshot(s, store)
          .select(col("event_id"), ntz(col("ts")).as("ts"),
            col("user_email"), col("habit"), col("value"),
            lit(VersionedStore.versions(s, store).length).cast("long")
              .as("n_versions"))
          .orderBy(col("event_id"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    "q_store_ingest_stream" -> ((s, dir) => {
      import graft.load.VersionedStore
      val tmp = java.nio.file.Files.createTempDirectory("graft_vingest_")
      try {
        val store = tmp.toString + "/store"
        for (cp <- Seq("cp1", "cp2"))
          Streaming.versionedIngestAvailableNow(s, dir, store,
            s"$tmp/$cp", Streaming.nextQueryName("graft_vin"))
        VersionedStore.snapshot(s, store)
          .select(col("event_id"), ntz(col("ts")).as("ts"),
            col("user_email"), col("habit"), col("value"),
            lit(VersionedStore.versions(s, store).length).cast("long")
              .as("n_versions"))
          .orderBy(col("event_id"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    })
  )
}
