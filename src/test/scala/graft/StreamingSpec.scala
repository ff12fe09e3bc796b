package graft

import graft.ops.OpCompiler
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkSpec {

  test("streaming FILTER+AGGREGATE agrees with the batch pipeline across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("id", "line")
    val ctx = OpCompiler.Ctx(Some("line"), Seq("id"))
    val ops = Seq(graft.ops.StreamOp.Filter("keep"), graft.ops.StreamOp.Aggregate)

    val out = StreamingPipeline.pipeline(ops, ctx)(stream)
    val q = out.writeStream.format("memory").queryName("rc_out")
      .outputMode("append").start()
    try {
      // two micro-batches: state must carry the count across them
      mem.addData((0L, "keep a"), (1L, "drop"), (2L, "keep b"))
      q.processAllAvailable()
      mem.addData((3L, "also keep"), (4L, "nope"))
      q.processAllAvailable()

      val got = spark.table("rc_out")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getAs[Long]("running_count")))
      assert(got.map(_._1).toSeq == Seq(0L, 2L, 3L))
      assert(got.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L),
        "counts must continue across micro-batches")

      // batch reference: same ops through the batch compiler
      val batch = Seq((0L, "keep a"), (1L, "drop"), (2L, "keep b"),
        (3L, "also keep"), (4L, "nope")).toDF("id", "line")
      val batchOut = graft.ops.Pipeline(ops, ctx)(batch)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getAs[Long]("running_count")))
      assert(got.map(_._1).toSeq == batchOut.map(_._1).toSeq)
      assert(got.map(_._2).sorted.toSeq == batchOut.map(_._2).sorted.toSeq)
    } finally q.stop()
  }

  test("streaming running sum carries state across micro-batches, null-correct") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.lang.Double)]
    val ops = Seq(graft.ops.StreamOp.parseUnsafe("AGGREGATE:sum:v"))
    val out = StreamingPipeline.pipeline(ops, OpCompiler.Ctx(None, Seq("id")))(
      mem.toDF().toDF("id", "v"))
    val q = out.writeStream.format("memory").queryName("rs_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, null), (2L, Double.box(2.5)))
      q.processAllAvailable()
      mem.addData((3L, Double.box(1.5)), (4L, null))
      q.processAllAvailable()
      val got = spark.table("rs_out").orderBy("id").collect()
        .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Double])))
      // single shard: arrival order == id order here
      assert(got.toSeq == Seq(
        (1L, None), (2L, Some(2.5)), (3L, Some(4.0)), (4L, Some(4.0))))
    } finally q.stop()
  }

  test("streaming running sum of a long field stays long and exact past 2^53") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val ops = Seq(graft.ops.StreamOp.parseUnsafe("AGGREGATE:sum:v"))
    val ctx = OpCompiler.Ctx(None, Seq("id"))
    val out = StreamingPipeline.pipeline(ops, ctx)(mem.toDF().toDF("id", "v"))
    // schema agreement with the batch compile of the SAME descriptor
    val batchOut = graft.ops.Pipeline(
      Seq(graft.ops.StreamOp.parseUnsafe("AGGREGATE:sum:v")), ctx)(
      Seq((1L, 1L)).toDF("id", "v"))
    assert(out.schema("running_sum").dataType == batchOut.schema("running_sum").dataType,
      "batch and streaming AGGREGATE:sum:v must emit the same output type")
    val q = out.writeStream.format("memory").queryName("rs_long")
      .outputMode("append").start()
    try {
      val big = (1L << 53) + 1 // not representable as a double sum increment
      mem.addData((1L, big), (2L, 1L))
      q.processAllAvailable()
      mem.addData((3L, 1L))
      q.processAllAvailable()
      val got = spark.table("rs_long").orderBy("id").collect()
        .map(r => r.getLong(2)).toSeq
      assert(got == Seq(big, big + 1, big + 2)) // a double accumulator loses the +1s
    } finally q.stop()
  }

  test("streaming running max on strings uses Spark's UTF8String order like batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val ops = Seq(graft.ops.StreamOp.parseUnsafe("AGGREGATE:max:v"))
    val ctx = OpCompiler.Ctx(None, Seq("id"))
    val out = StreamingPipeline.pipeline(ops, ctx)(mem.toDF().toDF("id", "v"))
    val q = out.writeStream.format("memory").queryName("rm_str")
      .outputMode("append").start()
    try {
      // U+FFFF vs U+1F600: UTF-16 code-unit order ranks them opposite to
      // Spark's UTF-8 byte order — the supplementary char must win
      mem.addData((1L, "￿"), (2L, "😀"))
      q.processAllAvailable()
      val streamMax = spark.table("rm_str").orderBy("id").collect().last.getString(2)
      val batchMax = Seq("￿", "😀").toDF("v")
        .agg(max(col("v"))).first().getString(0)
      assert(streamMax == batchMax)
      assert(streamMax == "😀")
    } finally q.stop()
  }

  test("streaming decimal sum overflow matches the ANSI-off batch window sum: null then restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val big = "9" + "0" * 37 // 9e37: two of these need 39 digits at scale 0
      val mem = MemoryStream[(Long, String)]
      val toDec = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("v", col("v").cast("decimal(38,0)"))
      val ops = Seq(graft.ops.StreamOp.parseUnsafe("AGGREGATE:sum:v"))
      val ctx = OpCompiler.Ctx(None, Seq("id"))
      val out = StreamingPipeline.pipeline(ops, ctx)(toDec(mem.toDF().toDF("id", "v")))
      val q = out.writeStream.format("memory").queryName("rs_dec_of")
        .outputMode("append").start()
      try {
        mem.addData((1L, big), (2L, big))
        q.processAllAvailable()
        // overflow happened last batch; state must have restarted, like batch
        mem.addData((3L, "-" + big))
        q.processAllAvailable()
        val got = spark.table("rs_dec_of").orderBy("id").collect()
          .map(r => Option(r.getDecimal(2)).map(_.toPlainString))
        val batch = graft.ops.Pipeline(ops, ctx)(
          toDec(Seq((1L, big), (2L, big), (3L, "-" + big)).toDF("id", "v")))
          .orderBy("id").collect()
          .map(r => Option(r.getDecimal(2)).map(_.toPlainString))
        assert(got.toSeq == batch.toSeq)
        assert(got.toSeq == Seq(Some(big), None, Some("-" + big)))
      } finally q.stop()
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("streaming decimal sum overflow raises under ANSI like batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val big = "9" + "0" * 37
    val mem = MemoryStream[(Long, String)]
    val out = StreamingPipeline.pipeline(
      Seq(graft.ops.StreamOp.parseUnsafe("AGGREGATE:sum:v")),
      OpCompiler.Ctx(None, Seq("id")))(
      mem.toDF().toDF("id", "v").withColumn("v", col("v").cast("decimal(38,0)")))
    val q = out.writeStream.format("memory").queryName("rs_dec_ansi")
      .outputMode("append").start()
    try {
      mem.addData((1L, big), (2L, big))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(_.isInstanceOf[ArithmeticException]),
        s"expected an ArithmeticException in: ${causes(e).map(_.getClass.getName)}")
    } finally q.stop()
  }

  test("streaming running max of timestamps carries typed state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-03-01 08:$m%02d:07")
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val ops = Seq(graft.ops.StreamOp.parseUnsafe("AGGREGATE:max:v"))
    val ctx = OpCompiler.Ctx(None, Seq("id"))
    val out = StreamingPipeline.pipeline(ops, ctx)(mem.toDF().toDF("id", "v"))
    val q = out.writeStream.format("memory").queryName("rm_ts")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(30)), (2L, ts(10)))
      q.processAllAvailable()
      // the max must survive a state round-trip into the next micro-batch
      mem.addData((3L, ts(20)), (4L, ts(45)))
      q.processAllAvailable()
      val got = spark.table("rm_ts").orderBy("id").collect()
        .map(r => r.getTimestamp(2))
      assert(got.toSeq == Seq(ts(30), ts(30), ts(30), ts(45)))
      val batch = graft.ops.Pipeline(ops, ctx)(
        Seq((1L, ts(30)), (2L, ts(10)), (3L, ts(20)), (4L, ts(45))).toDF("id", "v"))
        .orderBy("id").collect().map(r => r.getTimestamp(2))
      assert(got.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming exact dedup drops duplicate content across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val out = StreamingPipeline.dedupExact(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    try {
      mem.addData((ts(0), 1L, "alpha"), (ts(1), 2L, "beta"), (ts(2), 3L, "alpha"))
      q.processAllAvailable()
      // second micro-batch: a dup of "beta" within the watermark window
      mem.addData((ts(3), 4L, "beta"), (ts(4), 5L, "gamma"))
      q.processAllAvailable()
      val ids = spark.table("dd_out").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      // first arrival of each distinct text survives: alpha(1), beta(2), gamma(5)
      assert(ids == Seq(1L, 2L, 5L))
      assert(spark.table("dd_out").columns.toSeq == Seq("ts", "doc_id", "text"))
    } finally q.stop()
  }

  test("streaming session windows merge within the gap and split beyond it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Int) = java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(min * 60L))
    val out = StreamingPipeline.sessionCounts(
      mem.toDF().toDF("ts", "event_type"), gap = "30 minutes")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      // a: 0min + 20min merge (gap 20 < 30); 60min starts a new session
      mem.addData((ts(0), "a"), (ts(20), "a"), (ts(60), "a"), (ts(5), "b"))
      q.processAllAvailable()
      val got = spark.table("sess_out").orderBy("event_type", "s_start")
        .collect().map(r => (r.getString(1), r.getLong(2)))
      assert(got.toSeq == Seq(("a", 2L), ("a", 1L), ("b", 1L)))
    } finally q.stop()
  }

  test("streaming sessionize equals the batch operator on an in-order stream across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts")
    val out = StreamingPipeline.sessionize(stream, gap = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 has a session, user 2 starts one
      mem.addData((1L, 1L, ts(0)), (2L, 1L, ts(5)), (3L, 2L, ts(1)))
      q.processAllAvailable()
      // batch 2: user 1's gap (25m since ts(5)) starts session 1 — state
      // must carry the last ts across the batch boundary; user 2 continues
      mem.addData((4L, 1L, ts(30)), (5L, 2L, ts(8)), (6L, 1L, ts(33)))
      q.processAllAvailable()
      val got = spark.table("sess_out").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getAs[Long]("session_idx")))
      assert(got.toSeq == Seq(
        (1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 0L), (6L, 1L)))

      // batch reference over the union of both micro-batches
      val batch = Seq((1L, 1L, ts(0)), (2L, 1L, ts(5)), (3L, 2L, ts(1)),
        (4L, 1L, ts(30)), (5L, 2L, ts(8)), (6L, 1L, ts(33)))
        .toDF("event_id", "user_id", "ts")
      val want = graft.operators.Funnel.sessionize(batch, gap = "10 minutes")
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("session_idx")))
      assert(got.toSeq == want.toSeq)
    } finally q.stop()
  }

  test("streaming sessionize event-time idle timeout drops state; a returning user restarts at 0") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 12:$m%02d:00")
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts")
      .withWatermark("ts", "0 seconds")
    val out = StreamingPipeline.sessionize(
      stream, gap = "10 minutes", idleTimeout = Some("5 minutes"))
    val q = out.writeStream.format("memory").queryName("sess_timeout")
      .outputMode("append").start()
    try {
      // batch 1: user 1 sessions 0 (ts 0) and 1 (ts 30, past the 10 min
      // gap); idle deadline = 12:35
      mem.addData((1L, 1L, ts(0)), (2L, 1L, ts(30)))
      q.processAllAvailable()
      // batch 2 advances the watermark to 12:30 (< deadline: state survives)
      mem.addData((3L, 2L, ts(50)))
      q.processAllAvailable()
      // batch 3 runs with watermark 12:50 > 12:35: user 1's slot expires
      mem.addData((4L, 3L, ts(51)))
      q.processAllAvailable()
      // user 1 returns: with state KEPT this would be session_idx 2
      // (28 min > gap); with the slot freed the ordinal restarts at 0
      mem.addData((5L, 1L, ts(58)))
      q.processAllAvailable()
      val got = spark.table("sess_timeout").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getAs[Long]("session_idx"))).toSeq
      assert(got == Seq((1L, 0L), (2L, 1L), (3L, 0L), (4L, 0L), (5L, 0L)))
    } finally q.stop()
  }

  test("streaming transitions event-time idle timeout drops state; a returning user emits no stale pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 12:$m%02d:00")
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val stream = mem.toDF().toDF("event_id", "user_id", "event_type", "ts")
      .withWatermark("ts", "0 seconds")
    val out = StreamingPipeline.transitions(
      stream, idleTimeout = Some("5 minutes"))
    val q = out.writeStream.format("memory").queryName("trans_timeout")
      .outputMode("append").start()
    try {
      // batch 1: user 1 a->b pair; idle deadline = 12:35
      mem.addData((1L, 1L, "a", ts(0)), (2L, 1L, "b", ts(30)))
      q.processAllAvailable()
      // batch 2: watermark 12:30 < deadline — state survives
      mem.addData((3L, 2L, "x", ts(50)))
      q.processAllAvailable()
      // batch 3: watermark 12:50 > 12:35 — user 1's slot expires
      mem.addData((4L, 3L, "y", ts(51)))
      q.processAllAvailable()
      // user 1 returns: with state KEPT this would emit (b -> c); with
      // the slot freed the return is pairless
      mem.addData((5L, 1L, "c", ts(58)))
      q.processAllAvailable()
      val got = spark.table("trans_timeout")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(got == Seq((1L, "a", "b")))
      // control: without the timeout the same replay emits the b->c pair
      val mem2 = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
      val out2 = StreamingPipeline.transitions(
        mem2.toDF().toDF("event_id", "user_id", "event_type", "ts"))
      val q2 = out2.writeStream.format("memory").queryName("trans_keep")
        .outputMode("append").start()
      try {
        mem2.addData((1L, 1L, "a", ts(0)), (2L, 1L, "b", ts(30)))
        q2.processAllAvailable()
        mem2.addData((5L, 1L, "c", ts(58)))
        q2.processAllAvailable()
        assert(spark.table("trans_keep").count() == 2)
      } finally q2.stop()
    } finally q.stop()
  }

  test("streaming sharded JSONL sink: batches append per-shard files; membership equals the batch export") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val out = java.nio.file.Files.createTempDirectory("graft_stream_shards").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_shards_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipeline.startShardedJsonlSink(
      mem.toDF().toDF("doc_id", "text"), out, "doc_id", nShards = 4,
      checkpointDir = ckpt, trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData((0L until 50L).map(i => (i, s"doc $i")): _*)
      q.processAllAvailable()
      mem.addData((50L until 80L).map(i => (i, s"doc $i")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("shard", LongType)))
    val streamed = spark.read.schema(schema).json(out)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed.map(_._1) == (0L until 80L))
    // membership identical to one batch export at the same shard count
    val batchOut = java.nio.file.Files.createTempDirectory("graft_batch_shards").toString
    graft.sources.Sinks.exportShardedJsonl(
      (0L until 80L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      batchOut, "doc_id", maxShardBytes = 1L, fixedShards = Some(4))
    val batch = spark.read.schema(schema).json(batchOut)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed == batch)
    // each shard dir accreted at most one file per micro-batch (2 batches)
    new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
      .foreach { d =>
        val n = d.listFiles().count(_.getName.startsWith("part-"))
        assert(n >= 1 && n <= 2, s"${d.getName}: $n files")
      }
  }

  test("streaming sessionize sorts within a micro-batch by event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 11:$m%02d:00")
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts")
    val out = StreamingPipeline.sessionize(stream, gap = "5 minutes")
    val q = out.writeStream.format("memory").queryName("sess_order")
      .outputMode("append").start()
    try {
      // arrival order scrambled INSIDE one batch: 20, 0, 21 — the sorter
      // must label 0 first (session 0), then 20/21 (session 1)
      mem.addData((1L, 7L, ts(20)), (2L, 7L, ts(0)), (3L, 7L, ts(21)))
      q.processAllAvailable()
      val got = spark.table("sess_order").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getAs[Long]("session_idx"))).toSeq
      assert(got == Seq((1L, 1L), (2L, 0L), (3L, 1L)))
    } finally q.stop()
  }

  test("streaming as-of join (stream-static intervals) equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val snapshots = Seq( // static dimension: user profile versions
      (1L, 10L, "v1"), (1L, 20L, "v2"), (2L, 15L, "w1"))
      .toDF("user_id", "ts", "profile")
    val mem = MemoryStream[(Long, Long, Long)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts")
    val out = graft.operators.AsOfJoin.asofJoinStreamStatic(
      stream, snapshots, Seq("user_id"))
    val q = out.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1L, 5L), (2L, 1L, 10L), (3L, 1L, 25L))
      q.processAllAvailable()
      mem.addData((4L, 2L, 14L), (5L, 2L, 16L), (6L, 3L, 99L))
      q.processAllAvailable()
      val got = spark.table("asof_out").orderBy("event_id").collect()
        .map(r => (r.getLong(0), Option(r.getAs[String]("asof_profile")),
          Option(r.get(r.fieldIndex("asof_ts"))).map(_.asInstanceOf[Long])))
      assert(got.toSeq == Seq(
        (1L, None, None),             // before any snapshot
        (2L, Some("v1"), Some(10L)),  // same-instant snapshot visible (>=)
        (3L, Some("v2"), Some(20L)),  // latest preceding
        (4L, None, None),
        (5L, Some("w1"), Some(15L)),
        (6L, None, None)))            // key absent from snapshots
      // batch reference over the union of both micro-batches
      val batch = Seq((1L, 1L, 5L), (2L, 1L, 10L), (3L, 1L, 25L),
        (4L, 2L, 14L), (5L, 2L, 16L), (6L, 3L, 99L))
        .toDF("event_id", "user_id", "ts")
      val want = graft.operators.AsOfJoin.asofJoin(batch, snapshots, Seq("user_id"))
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), Option(r.getAs[String]("asof_profile")),
          Option(r.get(r.fieldIndex("asof_ts"))).map(_.asInstanceOf[Long])))
      assert(got.toSeq == want.toSeq)
    } finally q.stop()
  }

  test("dropExistingIn runs stream-static: streamed docs anti-join the corpus fingerprints") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("already ingested").toDF("text")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val out = graft.operators.Dedup.dropExistingIn(stream, corpus)
    val q = out.writeStream.format("memory").queryName("incr_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, "already ingested"), (2L, "brand new"))
      q.processAllAvailable()
      mem.addData((3L, "also new"), (4L, "already ingested"))
      q.processAllAvailable()
      val got = spark.table("incr_out").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(2L, 3L))
    } finally q.stop()
  }

  test("assignToCentroids routes a vector stream against static corpus seeds, batch-parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val arriving = (100L until 120L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.assignToCentroids(
      stream, k = 4, centroidSource = Some(corpus))
    val q = out.writeStream.format("memory").queryName("assign_out")
      .outputMode("append").start()
    try {
      mem.addData(arriving.take(10): _*)
      q.processAllAvailable()
      mem.addData(arriving.drop(10): _*)
      q.processAllAvailable()
      val got = spark.table("assign_out")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.operators.Similarity.assignToCentroids(
        arriving.toDF("vec_id", "embedding"), k = 4, centroidSource = Some(corpus))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == batch)
      assert(got.size == 20 && got.values.forall(_ >= 0))
    } finally q.stop()
  }

  test("semanticDedupAgainstCorpus runs stream-static: arriving near-twins of the corpus are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val e2 = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val corpus = Seq((0L, e1), (1L, e2)).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val out = graft.operators.Dedup.semanticDedupAgainstCorpus(
      stream, corpus, k = 2, threshold = 0.99)
    val q = out.writeStream.format("memory").queryName("semdedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (10L, Array(0.999f, 0.01f, 0.0f, 0.0f)),  // twin of corpus 0 -> dropped
        (11L, Array(0.0f, 0.0f, 1.0f, 0.0f)))     // novel -> kept
      q.processAllAvailable()
      mem.addData(
        (12L, Array(0.01f, 0.999f, 0.0f, 0.0f)),  // twin of corpus 1 -> dropped
        (13L, Array(0.7f, 0.7f, 0.0f, 0.0f)))     // cos ~0.707 -> kept
      q.processAllAvailable()
      val got = spark.table("semdedup_out")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(11L, 13L))
    } finally q.stop()
  }

  test("stateless curation ops (sample, split, redact, quality) run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions
    import graft.operators.Curation
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    // the same Column/DataFrame transforms used in the batch gates — pure
    // per-row, so Structured Streaming accepts them without state
    val curated = Curation.withSplit(
      Curation.sampleFraction(stream, "doc_id", 0.8)
        .filter(TextFunctions.topBigramFraction(col("text")) <= 0.9)
        .select(col("doc_id"), TextFunctions.redactPii(col("text")).as("clean")),
      "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
    // chunking is a pure generator, so it streams too — prove it composes
    val chunked = Curation.chunkDocuments(
      stream, maxTokens = 4, idCol = "doc_id", textCol = "text")
    val q = curated.writeStream.format("memory").queryName("cur_out")
      .outputMode("append").start()
    val q2 = chunked.writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    try {
      val docs = (0L until 50L).map(i => (i, s"doc $i mail a$i@b.co body"))
      mem.addData(docs: _*)
      q.processAllAvailable()
      q2.processAllAvailable()
      val got = spark.table("cur_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      // batch reference: identical decisions row by row (pure functions of id)
      val want = Curation.withSplit(
        Curation.sampleFraction(docs.toDF("doc_id", "text"), "doc_id", 0.8)
          .filter(TextFunctions.topBigramFraction(col("text")) <= 0.9)
          .select(col("doc_id"), TextFunctions.redactPii(col("text")).as("clean")),
        "doc_id", Seq("train" -> 0.9, "val" -> 0.1)).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(got.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq)
      assert(got.forall(_._2.contains("<EMAIL>")))
      // chunk generator on the stream = the batch chunker row for row
      val gotChunks = spark.table("chunk_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      val wantChunks = Curation.chunkDocuments(
          docs.toDF("doc_id", "text"), maxTokens = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(gotChunks == wantChunks && gotChunks.nonEmpty)
    } finally { q.stop(); q2.stop() }
  }

  test("quality filter chain (C4 clean -> page keep -> Gopher keep) streams unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.QualityFilters
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    def chain(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val cols = QualityFilters.c4Clean(col("text"), minLineWords = 3).toMap
      df.select(col("doc_id"), cols("clean_text").as("clean_text"),
          QualityFilters.c4DocKeep(col("text"), cols("n_kept_lines"), minKeptLines = 1)
            .as("page_keep"))
        .filter(col("page_keep"))
        .filter(QualityFilters.gopherKeep(col("clean_text"), minWords = 5))
        .select(col("doc_id"), col("clean_text"))
    }
    val q = chain(stream).writeStream.format("memory").queryName("qual_out")
      .outputMode("append").start()
    try {
      // mixed pages: a keeper, a brace page, a short page, a js-line page
      val docs = Seq(
        1L -> "the quick brown foxes jumped around today.\nit is quite a pleasant sunny day outside.",
        2L -> "the quick brown foxes jumped around today.\ncode { goes here } now.",
        3L -> "too short.",
        4L -> "this one uses javascript heavily.\nthe cat sat on a mat today and it was good.")
      mem.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("qual_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val want = chain(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(got == want && got.nonEmpty)
      assert(got.map(_._1).contains(1L) && !got.map(_._1).contains(2L))
    } finally { q.stop() }
  }

  test("decontamination runs stream-static: streaming docs against a static benchmark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox ate")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.Decontaminate.overlap(
      mem.toDF().toDF("doc_id", "text"), bench)
    // the per-doc count aggregation needs Update mode on a stream
    val q = out.writeStream.format("memory").queryName("decon_out")
      .outputMode("update").start()
    try {
      mem.addData((1L, "the quick brown fox jumps"), (2L, "completely novel text here"))
      q.processAllAvailable()
      val got = spark.table("decon_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(got.toSeq == Seq((1L, 3L, 2L), (2L, 2L, 0L)))
    } finally q.stop()
  }

  test("bigramRarityAgainstCorpus runs stream-static (collapse off), batch-parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus bigrams: "a b"x2, "b a", "b c"; unigrams a:2, b:3, c:1
    val corpus = Seq((100L, "a b a b"), (101L, "b c")).toDF("doc_id", "text")
    val arriving = Seq((1L, "a b z"), (2L, "z z"))
    val mem = MemoryStream[(Long, String)]
    // collapse OFF: stateless generator + stream-static left join + the ONE
    // stateful doc agg (chained streaming aggs are mode-restricted)
    val out = graft.operators.Curation.bigramRarityAgainstCorpus(
      mem.toDF().toDF("doc_id", "text"), corpus, collapseOccurrences = false)
    val q = out.writeStream.format("memory").queryName("bgr_out")
      .outputMode("update").start()
    try {
      mem.addData(arriving: _*)
      q.processAllAvailable()
      def five(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val got = spark.table("bgr_out").collect().map(five).sortBy(_._1).toSeq
      val want = graft.operators.Curation.bigramRarityAgainstCorpus(
        arriving.toDF("doc_id", "text"), corpus)
        .collect().map(five).sortBy(_._1).toSeq
      assert(got == want)
      // doc 1: "a b" hits (c2=2, c1(a)=2), "b z" is novel -> (2,1,2,2);
      // doc 2: all transitions novel -> zeros
      assert(got == Seq((1L, 2L, 1L, 2L, 2L), (2L, 1L, 0L, 0L, 0L)))
    } finally q.stop()
  }

  test("standardizeAgainstCorpus runs stream-static, batch-parity; unseen group scores null") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus group a: n=3, S=6, Q=14 -> z(5) = (15-6)/sqrt(42-36)
    val corpus = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 7L), ("b", 7L))
      .toDF("g", "v")
    val arriving = Seq(("a", 5L), ("b", 9L), ("new", 4L))
    val mem = MemoryStream[(String, Long)]
    val out = graft.operators.Curation.standardizeAgainstCorpus(
      mem.toDF().toDF("g", "v"), corpus, "v", Seq("g"))
    val q = out.writeStream.format("memory").queryName("std_out")
      .outputMode("append").start()
    try {
      mem.addData(arriving: _*)
      q.processAllAvailable()
      def row(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      val got = spark.table("std_out").collect().map(row).sortBy(_._1).toSeq
      val want = graft.operators.Curation.standardizeAgainstCorpus(
        arriving.toDF("g", "v"), corpus, "v", Seq("g"))
        .collect().map(row).sortBy(_._1).toSeq
      assert(got == want, "stream-static must equal the batch operator")
      assert(got == Seq(
        ("a", 5L, Some(9.0 / math.sqrt(6.0))),
        ("b", 9L, Some(0.0)),              // zero-variance corpus group
        ("new", 4L, None)))                // unseen group: null, not dropped
    } finally q.stop()
  }

  test("socket source drives the op pipeline end-to-end (localhost)") {
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      Seq("keep one", "drop this", "KEEP two").foreach(out.println)
      out.flush()
      // leave the socket open until the query is done reading
      Thread.sleep(30000)
      sock.close()
    })
    writer.setDaemon(true)
    writer.start()

    val lines = StreamingPipeline.socketLines(spark, "localhost", port)
    val ops = Seq(graft.ops.StreamOp.Filter("keep"),
      graft.ops.StreamOp.parseUnsafe("TRANSFORM:uppercase"))
    val out = StreamingPipeline.pipeline(ops, OpCompiler.Ctx(Some("value"), Seq.empty))(lines)
    val q = out.writeStream.format("memory").queryName("sock_out")
      .outputMode("append").start()
    try {
      // the socket source has no end-of-stream: poll until both rows land
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var rows = Array.empty[String]
      while (rows.length < 2 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        rows = spark.table("sock_out").collect().map(_.getString(0))
        if (rows.length < 2) Thread.sleep(200)
      }
      assert(rows.sorted.toSeq == Seq("KEEP ONE", "KEEP TWO"))
    } finally {
      q.stop()
      server.close()
    }
  }

  test("streaming span dedup equals batch firstOccurrence on an in-order stream, state carries across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val out = StreamingPipeline.dedupSpans(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "10 minutes", maxTokens = 2)
    val q = out.writeStream.format("memory").queryName("spans_out")
      .outputMode("append").start()
    try {
      // doc1 spans: [a b][c d]; doc2: [a b](dup within the batch) [x]
      val b1 = Seq((ts(0), 1L, "a b c d"), (ts(1), 2L, "a b x"))
      mem.addData(b1: _*)
      q.processAllAvailable()
      // doc3: [c d](dup from the PREVIOUS batch — state must carry) [e]
      val b2 = Seq((ts(2), 3L, "c d e"))
      mem.addData(b2: _*)
      q.processAllAvailable()

      val got = spark.table("spans_out")
        .select("doc_id", "chunk_idx", "chunk", "n_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2)).toSeq
      // batch twin on the concatenated input: chunk, then first occurrence
      // of each distinct span in arrival (doc_id, chunk_idx) order
      val batch = graft.operators.Dedup.firstOccurrence(
          graft.operators.Curation.chunkDocuments(
            (b1 ++ b2).toDF("ts", "doc_id", "text"), maxTokens = 2),
          col("chunk"), Seq(col("doc_id"), col("chunk_idx")))
        .select("doc_id", "chunk_idx", "chunk", "n_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(got == batch)
      assert(got.map(r => (r._1, r._3)) ==
        Seq((1L, "a b"), (1L, "c d"), (2L, "x"), (3L, "e")))
      // ts carried through the chunker for the watermark, then kept in output
      assert(spark.table("spans_out").columns.toSeq ==
        Seq("doc_id", "ts", "chunk_idx", "chunk", "n_tokens"))
    } finally q.stop()
  }

  test("sharded running count partitions the counter like the reference's N workers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val out = StreamingPipeline.runningCount(mem.toDF().toDF("id"), shards = 4)
    val q = out.writeStream.format("memory").queryName("rc_shard")
      .outputMode("append").start()
    try {
      mem.addData(1L to 100L: _*)
      q.processAllAvailable()
      val counts = spark.table("rc_shard").select("running_count")
        .collect().map(_.getLong(0))
      assert(counts.length == 100)
      // each shard counts 1..n_shard independently; total rows conserved
      assert(counts.max <= 100 && counts.min == 1)
    } finally q.stop()
  }

  test("streaming transitions equal the batch operator across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts", "event_type")
    val out = StreamingPipeline.transitions(stream, maxGap = Some("20 minutes"))
    val q = out.writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 view->click; user 2 two same-ts events (tie ->
      // event_id order); batch 2 chains ACROSS the boundary via state
      mem.addData((1L, 1L, ts(0), "view"), (2L, 1L, ts(5), "click"),
        (4L, 2L, ts(3), "click"), (5L, 2L, ts(3), "view"))
      q.processAllAvailable()
      mem.addData((6L, 1L, ts(9), "purchase"), // click->purchase across batches
        (7L, 2L, ts(40), "view")) // 37m > maxGap: dropped
      q.processAllAvailable()
      val got = spark.table("trans_out")
        .groupBy("from_type", "to_type").count()
        .orderBy("from_type", "to_type").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val batch = Seq((1L, 1L, ts(0), "view"), (2L, 1L, ts(5), "click"),
        (4L, 2L, ts(3), "click"), (5L, 2L, ts(3), "view"),
        (6L, 1L, ts(9), "purchase"), (7L, 2L, ts(40), "view"))
        .toDF("event_id", "user_id", "ts", "event_type")
      val want = graft.operators.Funnel
        .transitions(batch, maxGap = Some("20 minutes"))
        .orderBy("from_type", "to_type").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(got.toSeq == want.toSeq)
      assert(got.toSeq == Seq(("click", "purchase", 1L), ("click", "view", 1L),
        ("view", "click", 1L)))
    } finally q.stop()
  }

  test("streaming anomaly flags equal batch minus each key's open bucket") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def hts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    // key A: hours 0..3 calm (2 events each), hour 4 spike (9 events),
    // hour 5 opens (1 event, never emitted). window = 3.
    val rows =
      (0 until 4).flatMap(h => Seq((h * 10L, hts(h, 1), "A"), (h * 10L + 1, hts(h, 2), "A"))) ++
      (0 until 9).map(i => (100L + i, hts(4, i + 1), "A")) ++
      Seq((200L, hts(5, 0), "A")) ++
      // key B: two buckets only -> one closed bucket, warm-up (w_prev=1 < 3)
      Seq((300L, hts(0, 5), "B"), (301L, hts(1, 5), "B"))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "event_type")
    val out = StreamingPipeline.anomalyFlags(stream, window = 3)
    val q = out.writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start()
    try {
      // split MID-BUCKET (hour 4's spike spans both batches) so the open
      // bucket accumulates across the micro-batch boundary through state
      val (b1, b2) = rows.splitAt(12)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val got = spark.table("anom_out")
        .collect().map(r => (r.getAs[String]("event_type"),
          r.getAs[Long]("bucket_us"), r.getAs[Long]("n"),
          r.getAs[Long]("s_prev"), r.getAs[Long]("ss_prev"),
          r.getAs[Long]("w_prev"), r.getAs[Boolean]("is_anomaly")))
        .sortBy(t => (t._1, t._2)).toSeq
      val batch = rows.toDF("event_id", "ts", "event_type")
      val want0 = graft.operators.EventSignals.anomalyBuckets(batch, window = 3)
        .collect().map(r => (r.getAs[String]("event_type"),
          r.getAs[Long]("bucket_us"), r.getAs[Long]("n"),
          r.getAs[Long]("s_prev"), r.getAs[Long]("ss_prev"),
          r.getAs[Long]("w_prev"), r.getAs[Boolean]("is_anomaly")))
        .sortBy(t => (t._1, t._2)).toSeq
      // batch minus each key's LAST (still-open in the stream) bucket
      val want = want0.groupBy(_._1).toSeq
        .flatMap { case (_, g) => g.init }.sortBy(t => (t._1, t._2))
      assert(got == want)
      // the spike bucket is flagged, everything else is not
      assert(got.count(_._7) == 1)
      val spike = got.find(_._7).get
      assert(spike._3 == 9 && spike._6 == 3)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cdf = clicks.toDF().toDF("click_id", "user_id", "cts")
    val bdf = buys.toDF().toDF("buy_id", "user_id", "ts")
    val out = StreamingPipeline.intervalJoin(
      bdf, cdf, Seq("user_id"), "ts", "cts",
      within = "30 minutes", watermark = "2 hours")
    val q = out.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      // click arrives in batch 1; its purchase arrives in batch 2 — the
      // join must match ACROSS the micro-batch boundary through state
      clicks.addData((1L, 7L, ts(0)), (2L, 7L, ts(10)), (3L, 8L, ts(5)))
      q.processAllAvailable()
      buys.addData((10L, 7L, ts(20)), // joins clicks 1 (20m) and 2 (10m)
        (11L, 8L, ts(50)),            // click 3 is 45m back: outside within
        (12L, 9L, ts(30)))            // no click for user 9
      q.processAllAvailable()
      val got = spark.table("ssj_out")
        .select("buy_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == Seq((10L, 1L), (10L, 2L)))
      // batch parity: the same rows through a plain batch interval join
      val cb = Seq((1L, 7L, ts(0)), (2L, 7L, ts(10)), (3L, 8L, ts(5)))
        .toDF("click_id", "user_id", "cts")
      val bb = Seq((10L, 7L, ts(20)), (11L, 8L, ts(50)), (12L, 9L, ts(30)))
        .toDF("buy_id", "user_id", "ts")
      val want = bb.join(cb, bb("user_id") === cb("user_id") &&
          cb("cts") >= bb("ts") - org.apache.spark.sql.functions.expr("INTERVAL 30 minutes") &&
          cb("cts") <= bb("ts"))
        .select("buy_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("sequences: streamed n-grams chain across micro-batches, equal the batch grams") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    val out = StreamingPipeline.sequences(
      mem.toDF().toDF("user_id", "event_type", "ts", "event_id"), n = 3)
    val q = out.writeStream.format("memory").queryName("seq_out")
      .outputMode("append").start()
    try {
      // user 1's triple (v,c,p) SPANS the batch boundary: v,c in batch 1,
      // p in batch 2 — the (n-1)-type tail must ride the state
      mem.addData((1L, "v", ts(0), 1L), (1L, "c", ts(1), 2L),
        (2L, "v", ts(0), 3L))
      q.processAllAvailable()
      mem.addData((1L, "p", ts(2), 4L), (1L, "v", ts(3), 5L),
        (2L, "c", ts(1), 6L), (2L, "p", ts(2), 7L))
      q.processAllAvailable()
      val got = spark.table("seq_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      assert(got == Seq(
        (1L, "v", "c", "p"), (1L, "c", "p", "v"),
        (2L, "v", "c", "p")).sortBy(t => (t._1, t._4)))
      // batch parity: same rows through the batch gram generator
      val batch = Seq((1L, "v", ts(0), 1L), (1L, "c", ts(1), 2L),
        (2L, "v", ts(0), 3L), (1L, "p", ts(2), 4L), (1L, "v", ts(3), 5L),
        (2L, "c", ts(1), 6L), (2L, "p", ts(2), 7L))
        .toDF("user_id", "event_type", "ts", "event_id")
      val want = graft.operators.Funnel.sequencePatterns(batch, n = 3,
          minSupport = 1)
        .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2)),
          r.getLong(3))).toMap
      val gotCounts = got.groupBy(t => (t._2, t._3, t._4))
        .map { case (k, v) => k -> v.size.toLong }
      assert(gotCounts == want)
    } finally q.stop()
  }

  test("stream-stream LEFT SEMI interval join: each left row at most once, matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cdf = clicks.toDF().toDF("click_id", "user_id", "cts")
    val bdf = buys.toDF().toDF("buy_id", "user_id", "ts")
    val out = StreamingPipeline.intervalJoin(
      bdf, cdf, Seq("user_id"), "ts", "cts",
      within = "30 minutes", watermark = "2 hours", joinType = "left_semi")
    // semi output is the LEFT schema alone — no click columns
    assert(out.columns.toSeq == Seq("buy_id", "user_id", "ts"))
    val q = out.writeStream.format("memory").queryName("ssj_semi_out")
      .outputMode("append").start()
    try {
      // user 7 has TWO qualifying clicks — semi must emit the buy ONCE
      // (the inner form emits two pairs); user 8's click is out of window;
      // user 9 has none. Purchase 13 arrives BEFORE its click (batch
      // boundary crossed the other way): the buffered left row must emit
      // when the click shows up.
      clicks.addData((1L, 7L, ts(0)), (2L, 7L, ts(10)), (3L, 8L, ts(5)))
      buys.addData((13L, 5L, ts(15)))
      q.processAllAvailable()
      buys.addData((10L, 7L, ts(20)), (11L, 8L, ts(50)), (12L, 9L, ts(30)))
      clicks.addData((4L, 5L, ts(15)))
      q.processAllAvailable()
      val got = spark.table("ssj_semi_out").select("buy_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(10L, 13L))
      // batch parity: the same rows through a plain batch left-semi join
      val cb = Seq((1L, 7L, ts(0)), (2L, 7L, ts(10)), (3L, 8L, ts(5)),
        (4L, 5L, ts(15))).toDF("click_id", "user_id", "cts")
      val bb = Seq((13L, 5L, ts(15)), (10L, 7L, ts(20)), (11L, 8L, ts(50)),
        (12L, 9L, ts(30))).toDF("buy_id", "user_id", "ts")
      val want = bb.join(cb, bb("user_id") === cb("user_id") &&
          cb("cts") >= bb("ts") - org.apache.spark.sql.functions.expr("INTERVAL 30 minutes") &&
          cb("cts") <= bb("ts"), "left_semi")
        .select("buy_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("patternMatch: streamed distances equal the batch operator across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    val pat = Array(1.0, 2.0, 5.0, 2.0)
    val rows = Seq( // user 1 carries a scaled copy of the pattern mid-stream
      (1L, ts(0), 1L, 8.0), (1L, ts(1), 2L, 13.0), (1L, ts(2), 3L, 23.0),
      (1L, ts(3), 4L, 53.0), (1L, ts(4), 5L, 23.0), (1L, ts(5), 6L, 4.0),
      (2L, ts(0), 7L, 1.0), (2L, ts(1), 8L, 9.0), (2L, ts(2), 9L, 2.0),
      (2L, ts(3), 10L, 8.0), (2L, ts(4), 11L, 3.0))
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val out = StreamingPipeline.patternMatch(
      mem.toDF().toDF("user_id", "ts", "event_id", "value"),
      pat, threshold = 2.0)
    val q = out.writeStream.format("memory").queryName("pat_out")
      .outputMode("append").start()
    try {
      // split MID-WINDOW: the state buffer must carry values across batches
      mem.addData(rows.take(4): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(4): _*)
      q.processAllAvailable()
      val got = spark.table("pat_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.operators.TimeSeries.patternTopK(
        rows.toDF("user_id", "ts", "event_id", "value"), pat, k = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._3 <= 2.0).toSet
      assert(got == batch) // bit-identical distances, same emitted windows
      assert(got.exists { case (u, t, d) =>
        u == 1L && t == 4000000L && math.abs(d) < 1e-12 }) // the planted copy
    } finally q.stop()
  }

  test("streaming OHLC bars equal the batch operator once the watermark closes the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-04-01 $h%02d:$m%02d:00")
    val mem = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val rows = Seq( // hour 10, key a: ties on open ts broken by id
      ("a", ts(10, 0), 1L, 3.0), ("a", ts(10, 0), 2L, 7.0),
      ("a", ts(10, 40), 3L, 1.5), ("b", ts(10, 5), 4L, 4.0))
    val out = StreamingPipeline.ohlcBars(
      mem.toDF().toDF("event_type", "ts", "event_id", "value"),
      delay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("ohlc_out")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable() // hour-10 windows still open
      // sentinels advance the watermark past 11:00 (watermark takes effect
      // in the batch AFTER the data that moved it, hence two batches)
      mem.addData(("a", ts(12, 30), 9L, 1.0))
      q.processAllAvailable()
      mem.addData(("a", ts(12, 45), 10L, 1.0))
      q.processAllAvailable()
      val got = spark.table("ohlc_out").orderBy("event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7)))
      val want = graft.operators.EventSignals
        .ohlcBars(rows.toDF("event_type", "ts", "event_id", "value"))
        .orderBy("event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7)))
      assert(got.toSeq == want.toSeq) // identical bars, batch vs stream
    } finally q.stop()
  }

  test("cdcLatestStream: view changelog across batches equals batch cdcLatest on in-order replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-02-01 09:$m%02d:00")
    // (user_id, ts, event_id, op, value)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_id", "op", "value")
    val out = StreamingPipeline.cdcLatestStream(stream)
    val q = out.writeStream.format("memory").queryName("cdc_out")
      .outputMode("append").start()
    try {
      // batch 1: u1 upserts twice (winner 2.0), u2 upserts, u3 deletes
      mem.addData((1L, ts(0), 1L, "U", 1.0), (1L, ts(5), 2L, "U", 2.0),
        (2L, ts(1), 3L, "U", 7.0), (3L, ts(2), 4L, "D", 0.0))
      q.processAllAvailable()
      val b1 = spark.table("cdc_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
      // one emission per key, winner state, cumulative n_ops
      assert(b1 == Set((1L, "U", 2.0, 2L), (2L, "U", 7.0, 1L), (3L, "D", 0.0, 1L)))

      // batch 2: u1 tombstoned, u3 resurrected, u2 gets ONLY a stale row
      // (older than its winner) -> view unchanged -> no emission for u2
      mem.addData((1L, ts(10), 5L, "D", 0.0), (3L, ts(11), 6L, "U", 9.0),
        (2L, ts(0), 7L, "U", 99.0))
      q.processAllAvailable()
      val all = spark.table("cdc_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      val batch2 = all.toSet -- b1
      assert(batch2 == Set((1L, "D", 0.0, 3L), (3L, "U", 9.0, 2L)))

      // final view (last emission per key, tombstones filtered) equals the
      // batch operator over the full log — modulo n_ops for u2, whose
      // stale row arrived after its last emission (documented in-order
      // caveat), so compare (key, value) state only
      val finalView = all.zipWithIndex.groupBy(_._1._1)
        .map { case (k, rs) => k -> rs.maxBy(_._2)._1 }
        .collect { case (k, (_, op, v, _)) if op != "D" => (k, v) }.toSet
      val log = Seq((1L, "U", 1.0, ts(0), 1L), (1L, "U", 2.0, ts(5), 2L),
        (2L, "U", 7.0, ts(1), 3L), (3L, "D", 0.0, ts(2), 4L),
        (1L, "D", 0.0, ts(10), 5L), (3L, "U", 9.0, ts(11), 6L),
        (2L, "U", 99.0, ts(0), 7L))
        .toDF("user_id", "op", "value", "ts", "event_id")
      val want = graft.operators.History.cdcLatest(log, keyCols = Seq("user_id"),
        orderCols = Seq("ts", "event_id"), payloadCols = Seq("value"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(finalView == want)
    } finally q.stop()
  }

  test("cdcLatestStream: accepts a STRING tie column, like its batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-02-03 09:$m%02d:00")
    // ts ties broken by a string change-id — the batch twin's max_by
    // orders any orderable type; the stream must match instead of
    // ClassCastException-ing on a non-bigint tie
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_id", "op", "value")
    val out = StreamingPipeline.cdcLatestStream(stream)
    val q = out.writeStream.format("memory").queryName("cdc_str_tie")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), "c-a", "U", 1.0), (1L, ts(0), "c-b", "U", 2.0),
        (2L, ts(1), "c-x", "U", 7.0))
      q.processAllAvailable()
      // same instant: "c-b" > "c-a" lexicographically wins, as in batch
      val b1 = spark.table("cdc_str_tie").collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSet
      assert(b1 == Set((1L, 2.0), (2L, 7.0)))
      // a second batch with a SMALLER tie at the same ts changes nothing
      mem.addData((1L, ts(0), "c-0", "U", 9.0))
      q.processAllAvailable()
      val all = spark.table("cdc_str_tie").collect().map(_.getLong(0))
      assert(all.count(_ == 1L) == 1) // no new emission for u1
    } finally q.stop()
  }

  test("cdcLatestStream: state survives a checkpointed restart") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-02-02 09:$m%02d:00")
    val in = java.nio.file.Files.createTempDirectory("cdc_in").toString
    val out = java.nio.file.Files.createTempDirectory("cdc_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ckpt").toString
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit =
      rows.toDF("user_id", "ts", "event_id", "op", "value")
        .repartition(1).write.mode("append").parquet(in)
    val schema = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("user_id", "ts", "event_id", "op", "value").schema
    def run(): Unit = {
      val src = spark.readStream.schema(schema).parquet(in)
      val q = StreamingPipeline.startFileSink(
        StreamingPipeline.cdcLatestStream(src), out, ckpt)
      q.awaitTermination(60000)
      assert(!q.isActive)
    }
    write(Seq((1L, ts(0), 1L, "U", 5.0)))
    run() // drains batch 1, stops (AvailableNow)
    // "crash": more data lands while the query is down — a STALE row
    // (recovered state must suppress a fresh-state 4.0 winner) + a newer one
    write(Seq((1L, ts(0), 0L, "U", 4.0), (1L, ts(9), 3L, "U", 6.0)))
    run()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._4).toSeq
    // run 1 emitted the 5.0 winner; run 2 ONE row: winner advanced to 6.0
    // with n_ops counting all 3 log rows — 4.0 never surfaced
    assert(got == Seq((1L, "U", 5.0, 1L), (1L, "U", 6.0, 3L)))
  }

  test("a stream gate registers its staging dir for removal at JVM exit") {
    // staged input, sink output and checkpoint share one temp dir per gate
    // construction; Bench rebuilds every gate several times per run
    import scala.jdk.CollectionConverters._
    val before = SparkEntry.cleanupRegistered.asScala.toSet
    val gate = SparkEntry.queries("q_stream_console_gate")(spark, "/root/testdata/sf0.001")
    val added = SparkEntry.cleanupRegistered.asScala.toSet -- before
    val dirs = added.filter(_.contains("graft_stream_gate"))
    assert(dirs.size == 1, s"expected one registered gate dir, got $added")
    assert(new java.io.File(dirs.head, "out").isDirectory,
      s"the registered dir should hold the gate's sink: ${dirs.head}")
    assert(gate.count() > 0)
  }
}
