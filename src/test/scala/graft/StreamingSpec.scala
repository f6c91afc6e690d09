package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream,
  StreamingQueryListenerBus}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}
import graft.streaming.Streams
import graft.streaming.Streams.{SessionAssignment, SessionEvent}

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("windowedCounts: tumbling windows with watermark") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val out = Streams.windowedCounts(in.toDF().toDF("ts", "k"), "ts", "k")
    val q = out.writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    try {
      in.addData((ts(0), "a"), (ts(1), "a"), (ts(12), "a"), (ts(3), "b"))
      q.processAllAvailable()
      val got = spark.table("wc").select("k", "n").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      // window 0-10min: a=2, b=1; window 10-20min: a=1
      assert(got == Set(("a", 2L), ("b", 1L), ("a", 1L)) ||
        spark.table("wc").count() == 3)
    } finally q.stop()
  }

  test("sessionizeStream matches batch sessionize across micro-batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 30L * 60 * 1000000 // 30 min
    val in = MemoryStream[SessionEvent]
    val q = Streams.sessionizeStream(in.toDS(), gap)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    def us(minute: Int) = minute * 60L * 1000000
    try {
      // batch 1: two events close together
      in.addData(SessionEvent(1, 1, us(0)), SessionEvent(1, 2, us(10)))
      q.processAllAvailable()
      // batch 2: gap > 30min → new session; second user starts
      in.addData(SessionEvent(1, 3, us(60)), SessionEvent(2, 4, us(0)))
      q.processAllAvailable()
      val got = spark.table("sess").as[SessionAssignment].collect()
        .map(a => a.eventId -> a.sessionId).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
    } finally q.stop()
  }

  test("holtStream carries (level, trend) state across micro-batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ValueEvent]
    val q = Streams.holtStream(in.toDS(), alpha = 0.5, beta = 0.25)
      .writeStream.format("memory").queryName("holt").outputMode("append").start()
    try {
      in.addData(Streams.ValueEvent(1, 1, 0, 4.0), Streams.ValueEvent(1, 2, 1, 8.0))
      q.processAllAvailable()
      in.addData(Streams.ValueEvent(1, 3, 2, 6.0))
      q.processAllAvailable()
      val got = spark.table("holt").as[Streams.HoltOut].collect()
        .map(o => o.eventId -> (o.level, o.trend)).toMap
      // replay the exact fold: l1=4,b1=0; l2=.5*8+.5*4=6, b2=.25*2=.5;
      // l3=.5*6+.5*6.5=6.25, b3=.25*.25+.75*.5=.4375 — batch 2 only
      // matches if state crossed the batch boundary
      assert(got(1L) == ((4.0, 0.0)))
      assert(got(2L) == ((6.0, 0.5)))
      assert(got(3L) == ((6.25, 0.4375)))
      // identical to the batch operator on the same rows
      val batch = graft.operators.Sessionize.holt(
        Seq((1L, 0L, 1L, 4.0), (1L, 1L, 2L, 8.0), (1L, 2L, 3L, 6.0))
          .toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value", alpha = 0.5, beta = 0.25)
        .select("event_id", "level", "trend").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(batch == got)
    } finally q.stop()
  }

  test("cusumStream carries (ref, S+, S-) and the alarm reset across micro-batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ValueEvent]
    val q = Streams.cusumStream(in.toDS(), slackFrac = 0.25, threshFrac = 1.0)
      .writeStream.format("memory").queryName("cusum").outputMode("append").start()
    try {
      // ref = 8 (k = 2, h = 8); shift to 13 adds 3 per step
      in.addData(Streams.ValueEvent(1, 1, 0, 8.0), Streams.ValueEvent(1, 2, 1, 13.0))
      q.processAllAvailable()
      in.addData(Streams.ValueEvent(1, 3, 2, 13.0),
        Streams.ValueEvent(1, 4, 3, 13.0), Streams.ValueEvent(1, 5, 4, 13.0))
      q.processAllAvailable()
      val got = spark.table("cusum").as[Streams.CusumOut].collect()
        .map(o => o.eventId -> ((o.sPos, o.sNeg, o.alarm))).toMap
      assert(got(1L) == ((0.0, 0.0, false)))
      assert(got(2L) == ((3.0, 0.0, false)), "S+ started in batch 1")
      assert(got(3L) == ((6.0, 0.0, false)), "S+ crossed the batch boundary")
      assert(got(4L) == ((9.0, 0.0, true)), "alarm at 9 > h = 8")
      assert(got(5L) == ((3.0, 0.0, false)), "reset state also crossed batches")
    } finally q.stop()
  }

  test("hashChainStream carries the md5 head across micro-batches, bit-identical to batch") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ValueEvent]
    val q = Streams.hashChainStream(in.toDS())
      .writeStream.format("memory").queryName("chain").outputMode("append").start()
    try {
      in.addData(Streams.ValueEvent(1, 11, 0, 0.0), Streams.ValueEvent(1, 12, 1, 0.0))
      q.processAllAvailable()
      in.addData(Streams.ValueEvent(1, 13, 2, 0.0)) // second batch: state must carry
      q.processAllAvailable()
      val got = spark.table("chain").as[Streams.ChainOut].collect()
        .map(o => o.eventId -> o.chain).toMap
      def md5(x: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got(11L) == md5("g:11"))
      assert(got(12L) == md5(md5("g:11") + ":12"))
      assert(got(13L) == md5(md5(md5("g:11") + ":12") + ":13"),
        "head must cross the batch boundary")
      // bit-identical to the batch operator on the same rows
      val batch = graft.operators.Cdc.hashChain(
        Seq((1L, 0L, 11L, "11"), (1L, 1L, 12L, "12"), (1L, 2L, 13L, "13"))
          .toDF("user_id", "ts", "event_id", "payload"),
        "user_id", Seq("ts", "event_id"), "payload")
        .select("event_id", "chain").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(batch == got)
    } finally q.stop()
  }

  /** A two-row stream over a fresh landed parquet dir. */
  private def tinySource(): DataFrame = {
    val dir = graft.core.TempDirs.scratch("graft_tiny_").toString
    spark.range(2).write.mode("overwrite").parquet(dir)
    Streams.fileSource(spark, dir, new StructType().add("id", LongType))
  }

  test("the runner deletes a failed stream's checkpoint dir") {
    val before = ckptDirs()
    val seen = new AtomicReference(Set.empty[Path])
    val failing: (DataFrame, Long) => Unit = (_, _) => {
      seen.set(ckptDirs() -- before)
      throw new IllegalStateException("planted")
    }
    intercept[StreamingQueryException](
      Streams.runAvailableNow(tinySource().writeStream.foreachBatch(failing)))
    assert(seen.get.size == 1, s"checkpoint dirs while running: ${seen.get}")
    assert(seen.get.forall(!Files.exists(_)), s"failed stream left ${seen.get}")
  }

  test("a failed stream stops its running sibling and both checkpoint dirs are deleted") {
    val before = ckptDirs()
    val siblingRunning = new CountDownLatch(1)
    val seen = new AtomicReference(Set.empty[Path])
    val sibling: (DataFrame, Long) => Unit = (_, _) => {
      seen.set(ckptDirs() -- before)
      siblingRunning.countDown()
      Thread.sleep(120000) // until the runner stops this stream
    }
    val failing: (DataFrame, Long) => Unit = (_, _) => {
      siblingRunning.await(120, TimeUnit.SECONDS)
      throw new IllegalStateException("planted")
    }
    intercept[StreamingQueryException](Streams.runAvailableNow(
      tinySource().writeStream.queryName("sibling").foreachBatch(sibling),
      tinySource().writeStream.queryName("failing").foreachBatch(failing)))
    val leftRunning = spark.streams.active.filter(_.name == "sibling")
    leftRunning.foreach(_.stop())
    assert(leftRunning.isEmpty, "the sibling stream was left running")
    assert(seen.get.size == 2, s"checkpoint dirs while running: ${seen.get}")
    assert(seen.get.forall(!Files.exists(_)), s"left behind: ${seen.get}")
  }

  test("concurrent rows on one session: each row's checkpoint goes when that row returns") {
    val before = ckptDirs()
    val bRunning = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val bDirs = new AtomicReference(Set.empty[Path])
    val aDirs = new AtomicReference(Set.empty[Path])
    val rowB: (DataFrame, Long) => Unit = (_, _) => {
      bDirs.set(ckptDirs() -- before)
      bRunning.countDown()
      release.await(120, TimeUnit.SECONDS)
    }
    val rowA: (DataFrame, Long) => Unit = (_, _) =>
      aDirs.set(ckptDirs() -- before -- bDirs.get)
    val b = Future(Streams.runAvailableNow(
      tinySource().writeStream.queryName("rowB").foreachBatch(rowB)))(ExecutionContext.global)
    try {
      assert(bRunning.await(120, TimeUnit.SECONDS), "row B never ran a batch")
      Streams.runAvailableNow(tinySource().writeStream.queryName("rowA").foreachBatch(rowA))
      assert(spark.streams.active.exists(_.name == "rowB"), "row B should still be running")
      assert(aDirs.get.size == 1, s"row A's checkpoint dirs while running: ${aDirs.get}")
      assert(aDirs.get.forall(!Files.exists(_)), s"row A returned but left ${aDirs.get}")
      assert(bDirs.get.size == 1 && bDirs.get.forall(Files.exists(_)),
        s"row B's live checkpoint ${bDirs.get} is gone")
    } finally release.countDown()
    Await.result(b, Duration(120, TimeUnit.SECONDS))
    assert(bDirs.get.forall(!Files.exists(_)), s"row B returned but left ${bDirs.get}")
  }

  test("streamingDedup drops duplicate ids within the watermark") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val out = Streams.streamingDedup(in.toDF().toDF("id", "ts"), "id", "ts")
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(0)), (2L, ts(1)), (1L, ts(2)))
      q.processAllAvailable()
      in.addData((2L, ts(3)), (3L, ts(4)))
      q.processAllAvailable()
      val got = spark.table("sdedup").select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(1L, 2L, 3L), "each id survives exactly once")
    } finally q.stop()
  }

  test("intervalJoin attributes conversions within the delay window") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val convs = MemoryStream[(Long, Timestamp)]
    val out = Streams.intervalJoin(
      imps.toDF().toDF("uid", "imp_ts"), convs.toDF().toDF("uid", "conv_ts"),
      "uid", "imp_ts", "conv_ts", maxDelay = "30 minutes")
    val q = out.writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts(0)), (2L, ts(0)))
      convs.addData((1L, ts(10)), (2L, ts(50)), (3L, ts(5)))
      q.processAllAvailable()
      val got = spark.table("attr").select("uid").collect().map(_.getLong(0)).toSeq
      // only uid 1 converts within 30min of its impression
      assert(got == Seq(1L))
    } finally q.stop()
  }

  test("fileSource picks up landed parquet incrementally (AvailableNow)") {
    val dir = graft.core.TempDirs.scratch("graft_stream").toString
    val out = graft.core.TempDirs.scratch("graft_out").toString
    val ckpt = graft.core.TempDirs.scratch("graft_ckpt").toString
    spark.range(10).select(col("id"), (col("id") * 2).as("v"))
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def runOnce(): Unit = {
      val q = Streams.fileSource(spark, dir, schema)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 10)
    // second landing: checkpoint dedups already-seen files, only new rows land
    spark.range(5).select(col("id") + 100, (col("id") * 3).as("v"))
      .write.mode("append").parquet(dir)
    runOnce()
    assert(spark.read.parquet(out).count() == 15,
      "restart must process exactly the newly landed files")
  }

  test("windowed-aggregation STATE survives a checkpoint restart") {
    // run 1 builds open-window state (watermark too low to emit), the
    // query stops; run 2 is a NEW query on the same checkpoint whose
    // later data pushes the watermark past the old window — the emitted
    // counts must include run 1's rows exactly once, which is only
    // possible if the state store recovered from the checkpoint.
    val dir = graft.core.TempDirs.scratch("graft_ste").toString
    val out = graft.core.TempDirs.scratch("graft_steo").toString
    val ckpt = graft.core.TempDirs.scratch("graft_stec").toString
    def land(minutes: Seq[Int]): Unit =
      spark.createDataFrame(minutes.map(m =>
          (new java.sql.Timestamp(1700000000000L + m * 60000L), "k")))
        .toDF("ts", "k")
        .write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = Streams.windowedCounts(
          Streams.fileSource(spark, dir, schema), "ts", "k",
          windowLen = "10 minutes", watermark = "10 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    land(Seq(0, 1, 3)) // window [0,10): 3 rows; watermark stays below 0
    runOnce()
    assert(spark.read.parquet(out).count() == 0,
      "no window can close in run 1")
    land(Seq(60, 61)) // run 2: watermark -> ~50min, closes window [0,10)
    runOnce()
    val got = spark.read.parquet(out).select("k", "n").collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    assert(got == List(("k", 3L)),
      s"window [0,10) must emit run-1's 3 rows exactly once, got $got")
  }

  test("st15 streamed Misra-Gries candidates reproduce the exact batch heavy hitters") {
    val d = "/root/testdata/sf0.001"
    val fn = graft.queries.StreamingQueries.queries
      .find(_.name == "st15_stream_heavy_hitters").get.fn
    val got = fn(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val docs = graft.core.Tables.documents(spark, d)
    val totals = docs.groupBy("lang").agg(sum(size(toks)).as("n"))
    val expect = docs.select(col("lang"), explode(toks).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .join(totals, "lang").filter(col("cnt") * 30 > col("n"))
      .select("lang", "word", "cnt").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expect, s"stream ${got.size} vs batch ${expect.size}")
    assert(expect.nonEmpty, "fixture must have heavy hitters")
  }

  test("st16 sequential batch-folded CDC equals one-shot application") {
    val d = "/root/testdata/sf0.001"
    def fnOf(n: String) = graft.queries.StreamingQueries.queries
      .find(_.name == n).map(_.fn).getOrElse(
        graft.queries.SinkQueries.queries.find(_.name == n).get.fn)
    val streamed = fnOf("st16_stream_cdc_apply")(spark, d).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val oneShot = fnOf("io14_cdc_apply")(spark, d)
      .select("c_custkey", "bal").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed == oneShot,
      s"streamed ${streamed.size} rows vs one-shot ${oneShot.size}")
    assert(streamed.nonEmpty)
  }

  test("st01 streams a table stored as a directory of part files") {
    // a ScaleReplica replica writes each table as a Spark output directory
    val sf = java.nio.file.Paths.get(PlanGolden.sfDir).resolveSibling("sf0.01").toString
    val d = Files.createTempDirectory("graft_dirtable_")
    try {
      graft.core.Tables.load(spark, sf, "events").repartition(3)
        .write.parquet(d.resolve("events.parquet").toString)
      val st01 = graft.queries.StreamingQueries.queries
        .find(_.name == "st01_stream_windowed_counts").get.fn
      val fromDir = rows(st01(spark, d.toString))
      assert(fromDir.nonEmpty, "st01 read no rows from the directory table")
      assert(fromDir == rows(st01(spark, sf)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  test("three runs of st01 attach no streaming listener bus to the SparkContext's bus") {
    // LiveListenerBus.listeners is private[spark]; Scala leaves it public
    // in bytecode. Only StreamingQueryListenerBus instances are counted:
    // Spark's ContextCleaner detaches other per-session listeners once
    // their session is collected, so the total can fall at any GC.
    def busListeners(): Int = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]]
        .toArray.count(_.isInstanceOf[StreamingQueryListenerBus])
    }
    val sf = java.nio.file.Paths.get(PlanGolden.sfDir).resolveSibling("sf0.01").toString
    val st01 = graft.queries.StreamingQueries.queries
      .find(_.name == "st01_stream_windowed_counts").get.fn
    // the first run may make the row session, once per JVM
    val expected = rows(st01(spark, sf))
    val before = busListeners()
    for (_ <- 1 to 3) assert(rows(st01(spark, sf)) == expected)
    assert(busListeners() == before)
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_sink_")))
    assert(!Streams.rowSession(spark).catalog.listTables().collect()
      .exists(_.name.startsWith("graft_sink_")), "a memory sink's view outlived its row")
  }
}
