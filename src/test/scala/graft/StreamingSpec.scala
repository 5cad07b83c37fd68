package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Streaming parity: the watermarked streaming rollup over the events
  * fixture must agree with the batch window aggregation (SURVEY §2.14). */
class StreamingSpec extends SparkSpec {

  test("streaming hourlyCounts matches the batch window aggregation") {
    val batchEvents = Tables.load(spark, sf, "events")
    // stage as a plain parquet dir with the normalized (µs) timestamp so the
    // stream reader sees the same schema the batch path produces
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val staged = spark.read.parquet(dir)

    val q = EventStreams.runToMemory(spark, staged.schema, dir,
      EventStreams.hourlyCounts(_), "hourly_out")
    q.awaitTermination(60000)

    val streamed = spark.table("hourly_out")
      .groupBy("hour", "event_type")
      .agg(sum("n_events").as("n_events"))
    val batch = batchEvents
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    assert(streamed.count() == batch.count())
    val diff = streamed.join(batch, Seq("hour", "event_type"))
      .where(streamed("n_events") =!= batch("n_events")).count()
    assert(diff == 0)
  }

  test("sessionWindows (flatMapGroupsWithState) matches batch sessionization") {
    val batchEvents = Tables.load(spark, sf, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val staged = spark.read.parquet(dir)

    val q = EventStreams.runToMemory(spark, staged.schema, dir,
      EventStreams.sessionWindows(spark, _, gapSeconds = 1800), "sess_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(60000)

    // one batch: every session except each user's final (still open) one is
    // emitted closed — batch sessions = closed + one open per user
    val closed = spark.table("sess_out").count()
    val batchSessions = graft.operators.WindowOps.sessionize(batchEvents,
        Seq("user_id"), "ts", col("event_id"), gapSeconds = 1800)
      .select("user_id", "session_id").distinct().count()
    val users = batchEvents.select("user_id").distinct().count()
    assert(closed == batchSessions - users)
  }

  test("dedupStream drops duplicate keys like the batch fingerprint dedup") {
    val batchEvents = Tables.load(spark, sf, "events")
      // duplicate every event's key space: user_id collisions guaranteed
      .withColumn("dup_key", col("event_id") % 100)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val staged = spark.read.parquet(dir)

    val q = EventStreams.runToMemory(spark, staged.schema, dir,
      EventStreams.dedupStream(_, Seq("dup_key")), "dedup_out")
    q.awaitTermination(60000)

    val got = spark.table("dedup_out").select("dup_key").distinct().count()
    val want = batchEvents.select("dup_key").distinct().count()
    // every key survives exactly once
    assert(spark.table("dedup_out").count() == want && got == want)
  }

  test("screenStream applies stateless screens over a stream") {
    val batchEvents = Tables.load(spark, sf, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_screen").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val staged = spark.read.parquet(dir)

    val q = EventStreams.runToMemory(spark, staged.schema, dir,
      EventStreams.screenStream(_, 0.0, 40.0), "screen_out")
    q.awaitTermination(60000)

    val streamed = spark.table("screen_out")
    val batch = EventStreams.screenStream(batchEvents, 0.0, 40.0)
    assert(streamed.count() == batch.count())
    assert(streamed.where(col("flag") === "oob").count() ==
      batch.where(col("flag") === "oob").count())
  }

  test("sessionize accumulates per-user state") {
    import spark.implicits._
    val events = Tables.load(spark, sf, "events")
    val out = EventStreams.sessionize(spark, events)
    val perUser = events.groupBy("user_id").agg(count(lit(1)).as("n"))
    val joined = out.join(perUser, "user_id")
      .where(col("n_events") =!= col("n")).count()
    assert(joined == 0)
  }

  test("sessionizeTws (transformWithState) matches the mapGroupsWithState twin") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = Tables.load(spark, sf, "events")
      val tws = EventStreams.sessionizeTws(spark, events)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      val mgws = EventStreams.sessionize(spark, events)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      assert(tws.nonEmpty && tws == mgws)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("ewmaStream (transformWithState) is bit-identical to the batch screen") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = Tables.load(spark, sf, "events")
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("user_id", "ts_us", "event_id", "value", "ewma",
          "deviation", "flag_ewma")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.toSeq)
        .toMap
      val stream = canon(EventStreams.ewmaStream(spark, events,
        threshold = 150.0))
      val batch = canon(graft.operators.TimeseriesScreens.ewmaScreen(
        events, "user_id", "ts", "event_id", "value", threshold = 150.0))
      // exact integer state: the incremental store and the batch fold
      // cannot disagree by even an ulp
      assert(stream.nonEmpty && stream == batch)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dedupTws (transformWithState MapState) matches the batch first-per-fingerprint dedup") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val lagKey = "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag"
    val prev = spark.conf.getOption(key)
    val prevLag = spark.conf.getOption(lagKey)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // batch-mode transformWithState has no StateStoreCoordinator endpoint;
    // the snapshot-upload lag report would fail the store load trying to
    // reach it
    spark.conf.set(lagKey, "false")
    try {
      import org.apache.spark.sql.expressions.Window
      // plant exact duplicates: every event appears twice, so the
      // processor must drop exactly half
      val events = Tables.load(spark, sf, "events")
      val doubled = events.unionByName(events)
      // drive through a REAL streaming query (also creates the state
      // store coordinator this provider's maintenance reports to)
      val dir = java.nio.file.Files.createTempDirectory("graft_dtws").toString
      doubled.write.mode("overwrite").parquet(dir)
      val staged = spark.read.parquet(dir)
      val q = EventStreams.runToMemory(spark, staged.schema, dir,
        EventStreams.dedupTws(spark, _), "dtws_out",
        org.apache.spark.sql.streaming.OutputMode.Append())
      q.awaitTermination(60000)
      val tws = spark.table("dtws_out")
        .select("user_id", "event_id", "fingerprint", "first_ts_us")
        .collect().map(_.toSeq).toSet
      // batch twin: exact first occurrence per (user, fingerprint),
      // (ts, event_id) order — the same winner the processor picks
      val batch = doubled
        .select(col("user_id"), col("ts"), col("event_id"),
          xxhash64(col("event_type"), col("value")).as("fingerprint"))
        .withColumn("__rn", row_number().over(Window
          .partitionBy(col("user_id"), col("fingerprint"))
          .orderBy(col("ts"), col("event_id"))))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("event_id"), col("fingerprint"),
          unix_micros(col("ts")).as("first_ts_us"))
        .collect().map(_.toSeq).toSet
      assert(tws.nonEmpty && tws == batch)
      // the planted duplicates were dropped
      assert(tws.size * 2 <= doubled.count())
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      prevLag match {
        case Some(v) => spark.conf.set(lagKey, v)
        case None => spark.conf.unset(lagKey)
      }
    }
  }

  test("ewmaStreamOrdered (ListState + event-time timers) reorders a disordered stream") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = Tables.load(spark, sf, "events")
      // stage one parquet file PER DAY, but move every 5th event one
      // file LATER — it arrives a micro-batch after its event-time
      // peers (≤1 day of disorder). maxFilesPerTrigger=1 turns each
      // file into its own micro-batch, so the disorder is CROSS-batch:
      // the within-batch sort of the plain EwmaProcessor cannot fix it,
      // only the ListState buffer + watermark timer can.
      val dir = java.nio.file.Files.createTempDirectory("graft_oewma").toString
      val staged = events.withColumn("__day", dayofmonth(col("ts")))
        .withColumn("__file",
          when(col("event_id") % 5 === 0, col("__day") + 1)
            .otherwise(col("__day")))
      val days = staged.select("__file").distinct()
        .orderBy("__file").collect().map(_.getInt(0))
      days.foreach { d =>
        staged.where(col("__file") === d).drop("__day", "__file")
          .coalesce(1).write.mode("append").parquet(dir)
      }
      val schema = spark.read.parquet(dir).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .transform(df => EventStreams.ewmaStreamOrdered(spark, df,
          threshold = 150.0, watermark = "2 days"))
        .writeStream.outputMode("append")
        .format("memory").queryName("oewma_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val streamed = spark.table("oewma_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.toSeq)
        .toMap
      // the watermark never passes the final 2 days (nothing arrives
      // after), so the comparable set is everything STRICTLY below the
      // final watermark: max(ts) - 2 days (the processor keeps events
      // in the watermark µs buffered — they may still gain peers)
      val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val wmCutUs = (maxUs / 1000L - 2L * 86400000L) * 1000L
      val batch = graft.operators.TimeseriesScreens.ewmaScreen(
          events, "user_id", "ts", "event_id", "value", threshold = 150.0)
        .where(col("ts_us") < wmCutUs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.toSeq)
        .toMap
      // every ripe event was emitted exactly once, in event-time order,
      // BIT-identical to the batch fold — despite cross-batch disorder
      val ripeStreamed = streamed.filter { case ((_, ts, _), _) => ts < wmCutUs }
      assert(batch.nonEmpty && ripeStreamed == batch,
        s"streamed=${streamed.size} ripe=${ripeStreamed.size} batch=${batch.size}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("ewmaStreamOrdered registers no timer that already exists") {
    // one key gets rows in three micro-batches; the later two carry no
    // newer event time, so the watermark stands still between them and a
    // per-batch registration at watermark + 1 would collide with the
    // timer the first of them set
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val collisions = new java.util.concurrent.atomic.AtomicInteger
    val counter = new AbstractAppender("timer-collisions", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Failed to register timer"))
          collisions.incrementAndGet()
    }
    counter.start()
    val timerLog = LogManager.getLogger("org.apache.spark.sql.execution." +
      "streaming.operators.stateful.transformwithstate.timers.TimerStateImpl")
      .asInstanceOf[CoreLogger]
    val prevLevel = timerLog.getLevel
    timerLog.addAppender(counter)
    timerLog.setLevel(Level.WARN)
    try {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_otimer").toString
      Seq("2024-01-05 10:00:00", "2024-01-05 09:00:00", "2024-01-05 08:00:00")
        .zipWithIndex.foreach { case (ts, i) =>
          Seq((1L, java.sql.Timestamp.valueOf(ts), i.toLong, 100.0 + i))
            .toDF("user_id", "ts", "event_id", "value")
            .coalesce(1).write.mode("append").parquet(dir)
        }
      val schema = spark.read.parquet(dir).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .transform(df => EventStreams.ewmaStreamOrdered(spark, df,
          threshold = 150.0, watermark = "2 days"))
        .writeStream.outputMode("append")
        .format("memory").queryName("otimer_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      assert(collisions.get() == 0)
    } finally {
      timerLog.removeAppender(counter)
      timerLog.setLevel(prevLevel)
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("nearDupCandidates: stream-stream band join finds planted near-dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and keeps on " +
      "running through the quiet green field toward the distant river"
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val docs = Seq(
      (1L, ts(0), base),
      (2L, ts(2), base + " bank"),               // near-dup of 1, in window
      (3L, ts(4), "totally different words with nothing shared at all " +
        "between these two documents whatsoever in any shingle"),
      (4L, ts(40), base)                          // dup of 1 but OUT of window
    ).toDF("doc_id", "ts", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    docs.write.mode("overwrite").parquet(dir)
    val staged = spark.read.parquet(dir)

    val q = EventStreams.runToMemory(spark, staged.schema, dir,
      EventStreams.nearDupCandidates(_, "doc_id", "ts", "text",
        joinWindow = "10 minutes", watermark = "20 minutes"),
      "neardup_out", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(60000)

    val pairs = spark.table("neardup_out")
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"planted pair missing: $pairs")
    // doc 4 is an exact dup of doc 1/2 but 40/38 minutes away — outside the
    // 10-minute join window, so no (1,4)/(2,4) pair may appear
    assert(!pairs.exists { case (_, b) => b == 4L }, s"out-of-window: $pairs")
    // unrelated doc 3 shares no shingles
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }, pairs.toString)
  }

  test("nearDupCandidates streaming pairs match the batch band join") {
    import spark.implicits._
    // 30 docs in one time cluster: 10 bases, each with 2 jittered variants
    val words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon").split(" ")
    val rnd = new scala.util.Random(5)
    val docs = (0 until 10).flatMap { b =>
      val baseWords = Seq.fill(30)(words(rnd.nextInt(words.length)))
      (0 until 3).map { v =>
        val w = if (v == 0) baseWords
          else baseWords.updated(rnd.nextInt(30), words(rnd.nextInt(words.length)))
        ((b * 3 + v).toLong,
          java.sql.Timestamp.valueOf(f"2026-01-01 10:${b % 10}%02d:30"),
          w.mkString(" "))
      }
    }.toDF("doc_id", "ts", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup2").toString
    docs.write.mode("overwrite").parquet(dir)
    val staged = spark.read.parquet(dir)

    val q = EventStreams.runToMemory(spark, staged.schema, dir,
      EventStreams.nearDupCandidates(_, "doc_id", "ts", "text",
        joinWindow = "30 minutes", watermark = "1 hour"),
      "neardup_par", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(60000)
    val streamed = spark.table("neardup_par")
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet

    // batch twin: same per-row signature logic via the batch band join
    val batchPairs = EventStreams.nearDupCandidates(staged, "doc_id", "ts",
        "text", joinWindow = "30 minutes", watermark = "1 hour")
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    assert(streamed == batchPairs,
      s"stream=${streamed.size} batch=${batchPairs.size} " +
        s"diff=${streamed.diff(batchPairs) ++ batchPairs.diff(streamed)}")
    assert(batchPairs.nonEmpty)
  }

  test("nearDupCandidates plans log no state-constraint extraction error") {
    // every micro-batch plan of a stream-stream join reads each range
    // comparison in its condition as a candidate state-watermark bound;
    // one between the two sides' ids cannot be evaluated and logs a full
    // stack trace per plan
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import spark.implicits._
    val errors = new java.util.concurrent.atomic.AtomicInteger
    val counter = new AbstractAppender("join-constraint-errors", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("StreamingJoinHelper") &&
            e.getMessage.getFormattedMessage
              .contains("Error trying to extract state constraint"))
          errors.incrementAndGet()
    }
    counter.start()
    // on the root logger of the context's live configuration, which every
    // Spark logger reaches through additivity
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(counter, Level.WARN, null)
    ctx.updateLoggers()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
      val text = "the quick brown fox jumps over the lazy dog again"
      val dir = java.nio.file.Files.createTempDirectory("graft_neardup3").toString
      Seq((1L, ts(0), text), (2L, ts(1), text + " twice"))
        .toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(dir)
      val q = EventStreams.runToMemory(spark, spark.read.parquet(dir).schema,
        dir, EventStreams.nearDupCandidates(_, "doc_id", "ts", "text"),
        "neardup_log", org.apache.spark.sql.streaming.OutputMode.Append())
      q.awaitTermination(60000)
      assert(spark.table("neardup_log").select("id_a", "id_b").distinct()
        .as[(Long, Long)].collect().toSet == Set((1L, 2L)))
      assert(errors.get() == 0, s"${errors.get()} extraction errors logged")
    } finally {
      root.removeAppender(counter.getName)
      ctx.updateLoggers()
    }
  }

  test("KMV sketch aggregates a stream to exactly the batch estimate") {
    import spark.implicits._
    // the mergeable-state property is what makes the sketch streamable:
    // each micro-batch folds into the same O(k) buffer, so the streaming
    // distinct-count estimate over all batches must equal the batch run
    val batchEvents = Tables.load(spark, sf, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val staged = spark.read.parquet(dir)
    val q = EventStreams.runToMemory(spark, staged.schema, dir,
      df => df.groupBy(col("event_type"))
        .agg(graft.functions.KmvSketch(col("user_id"), 64).as("est_users")),
      "kmv_out", org.apache.spark.sql.streaming.OutputMode.Complete())
    q.awaitTermination(60000)
    val streamed = spark.table("kmv_out")
      .as[(String, Double)].collect().toMap
    val batch = batchEvents.groupBy(col("event_type"))
      .agg(graft.functions.KmvSketch(col("user_id"), 64).as("est_users"))
      .as[(String, Double)].collect().toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(batch.nonEmpty)
  }

  test("both stream EWMA paths reject alpha outside (0, 1] like the batch screen") {
    val events = Tables.load(spark, sf, "events")
    // 5/4 would fold (5·X − E + 2) DIV 4: an over-shooting "average"
    for ((num, den) <- Seq((5, 4), (0, 4), (1, 0))) {
      val msgs = Seq(
        intercept[IllegalArgumentException](
          EventStreams.ewmaStream(spark, events, threshold = 150.0,
            alphaNum = num, alphaDen = den)),
        intercept[IllegalArgumentException](
          EventStreams.ewmaStreamOrdered(spark, events, threshold = 150.0,
            watermark = "2 days", alphaNum = num, alphaDen = den)),
        intercept[IllegalArgumentException](
          graft.operators.TimeseriesScreens.ewmaScreen(events, "user_id",
            "ts", "event_id", "value", threshold = 150.0,
            alphaNum = num, alphaDen = den))).map(_.getMessage)
      assert(msgs.forall(_.contains("need 0 < alphaNum/alphaDen <= 1")), msgs)
    }
  }
}
