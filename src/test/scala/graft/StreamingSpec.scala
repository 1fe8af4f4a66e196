package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{ExtensionQueries, ReferenceQueries}
import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite with SparkSpec {

  test("streaming windowed counts equal the batch x11 aggregation") {
    // FileStreamSource wants a directory: stage one with a symlink.
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    val agg = EventStreams.windowedCounts(
      EventStreams.eventStream(spark, dir.toString))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.quiesce()
    val streamed = spark.sql(
      "SELECT w_start, event_type, n, round(sum_value, 2) AS sum_value FROM win_out")
      .collect().map(_.toSeq).toSet
    val batch = ExtensionQueries.x11_event_windows(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("stream-stream click-after-view join equals the batch join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj_stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    val joined = EventStreams.clicksAfterViews(
      EventStreams.eventStream(spark, dir.toString))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.quiesce()
    val streamed = spark.sql("SELECT click_id, view_id FROM ssj_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch-mode execution of the same plan is the oracle
    val batch = EventStreams.clicksAfterViews(graft.Tables.events(spark, sf))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty, "expected at least one click-after-view pair")
  }

  test("streaming dedup-within-watermark drops exact duplicates") {
    // Stage the same events file TWICE — every event arrives duplicated.
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events_a.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events_b.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    val deduped = EventStreams.dedupWithinWatermark(
      EventStreams.eventStream(spark, dir.toString))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.quiesce()
    val n = spark.sql("SELECT count(*) FROM dedup_out").head().getLong(0)
    val distinctIds =
      spark.sql("SELECT count(DISTINCT event_id) FROM dedup_out").head().getLong(0)
    val source = graft.Tables.events(spark, sf).count()
    assert(n === distinctIds, "duplicates survived the streaming dedup")
    assert(n === source, "dedup dropped non-duplicate events")
  }

  test("stateful sessionization equals the batch x12 session counts") {
    // flatMapGroupsWithState also runs in batch mode (empty state) —
    // one pass per group, which matches the windowless x12 semantics.
    val sess = EventStreams.sessionize(spark, graft.Tables.events(spark, sf))
    val got = sess.collect()
      .map(s => (s.user_id, s.session_id, s.n_events, s.sess_start_us, s.sess_end_us))
      .toSet
    val expect = ExtensionQueries.x12_sessionize(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    assert(got === expect)
  }

  test("eventStream starts against an empty directory (vintage fallback)") {
    // No files yet → the vintage probe can't infer a schema; the
    // stream must still CONSTRUCT and START (default micros-NTZ
    // vintage), then pick up files that land after start.
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_stream")
    val agg = EventStreams.windowedCounts(
      EventStreams.eventStream(spark, dir.toString))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("empty_win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.quiesce()
    assert(spark.sql("SELECT * FROM empty_win_out").count() === 0L)
    // a file lands after the first (empty) run: same stream def reads it
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    val agg2 = EventStreams.windowedCounts(
      EventStreams.eventStream(spark, dir.toString))
    val q2 = agg2.writeStream.outputMode("complete")
      .format("memory").queryName("late_win_out")
      .trigger(Trigger.AvailableNow()).start()
    q2.quiesce()
    val streamed = spark.sql(
      "SELECT w_start, event_type, n, round(sum_value, 2) AS sum_value FROM late_win_out")
      .collect().map(_.toSeq).toSet
    val batch = ExtensionQueries.x11_event_windows(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("docTokens over a streaming frame equals batch docTokens") {
    // docTokens -> parallelized must leave a streaming frame as it is:
    // a streaming frame has no .rdd to count partitions on
    val src = sfDir("0.01")
    val dir = java.nio.file.Files.createTempDirectory("graft_tok_stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$src/documents.parquet"))
    val docs = spark.readStream.schema(Tables.documents(spark, src).schema)
      .parquet(dir.toString)
    val q = ReferenceQueries.docTokens(docs, persist = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("doc_tokens_out")
      .trigger(Trigger.AvailableNow()).start()
    q.quiesce()
    val streamed = spark.table("doc_tokens_out")
    val batch = ReferenceQueries.docTokens(Tables.documents(spark, src), persist = false)
    assert(streamed.columns.toSeq === Seq("doc_id", "token"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty)
    assert(batch.exceptAll(streamed).isEmpty)
  }
}
