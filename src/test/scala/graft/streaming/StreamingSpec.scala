package graft.streaming

import java.nio.file.Files

import graft.{Inputs, TestSpark}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S2 streaming delimited scan: availableNow over a csv dir") {
    val dir = Inputs.scratchDir("graft-stream")
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"),
      "id\tname\n1\talpha\n2\tbeta\n")
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"),
      "id\tname\n3\tgamma\n")
    val schema = StructType.fromDDL("id LONG, name STRING")
    val q = StreamOps.streamDelim(spark, dir, schema)
      .writeStream.format("memory").queryName("s2_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("s2_out").count() == 3)
  }

  test("watermarked windowed aggregation (availableNow batch-up)") {
    val dir = Inputs.scratchDir("graft-stream2")
    val events = Seq(
      ("2026-01-01 00:00:10", "click", 1.0),
      ("2026-01-01 00:00:50", "click", 2.0),
      ("2026-01-01 00:01:10", "view", 5.0))
    Files.writeString(java.nio.file.Paths.get(dir, "e.tsv"),
      "ts\tevent_type\tvalue\n" +
        events.map(e => s"${e._1}\t${e._2}\t${e._3}").mkString("\n"))
    val schema = StructType.fromDDL("ts TIMESTAMP, event_type STRING, value DOUBLE")
    val stream = StreamOps.streamDelim(spark, dir, schema)
    val agg = StreamOps.windowedCounts(stream, "ts", "event_type", "value")
    // complete mode: append would only emit windows the watermark has
    // passed, and a single availableNow batch never advances it that far
    val q = agg.writeStream.format("memory").queryName("s2_agg")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("s2_agg")
      .select("event_type", "n_events", "total_value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // first window: 2 clicks; second: 1 view
    assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("stateful first-wins dedup across micro-batches") {
    val dir = Inputs.scratchDir("graft-stream3")
    Files.writeString(java.nio.file.Paths.get(dir, "x.tsv"),
      "key\tpayload\nk1\tfirst\nk1\tsecond\nk2\tonly\n")
    val schema = StructType.fromDDL("key STRING, payload STRING")
    val input = StreamOps.streamDelim(spark, dir, schema).as[StreamOps.Keyed]
    val q = StreamOps.firstWins(input)
      .writeStream.format("memory").queryName("s2_dedup")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("s2_dedup").as[StreamOps.FirstSeen].collect().toSet
    assert(rows.map(_.key) == Set("k1", "k2"))
    // within one micro-batch the iterator order follows file order → k1 kept 'first'
    assert(rows.contains(StreamOps.FirstSeen("k2", "only")))
  }

  test("firstEventPerKey folds state across micro-batches deterministically") {
    val dir = Inputs.scratchDir("graft-stream4")
    // batch 1 (file a): later event for u1; batch 2 (file b): the true
    // earliest — state must improve on the second batch
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"),
      "user_id\tts\tevent_id\tevent_type\n1\t500\t7\tlate\n2\t100\t3\tonly\n")
    Thread.sleep(20) // distinct mtimes so file order is a→b→c
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"),
      "user_id\tts\tevent_id\tevent_type\n1\t100\t9\tearly\n")
    Thread.sleep(20)
    // batch 3: WORSE event for u1 — must emit nothing
    Files.writeString(java.nio.file.Paths.get(dir, "c.tsv"),
      "user_id\tts\tevent_id\tevent_type\n1\t900\t11\tworse\n")
    val schema = StructType.fromDDL(
      "user_id LONG, ts LONG, event_id LONG, event_type STRING")
    val input = spark.readStream.schema(schema)
      .option("sep", "\t").option("header", true)
      .option("maxFilesPerTrigger", 1)
      .csv(dir).as[StreamOps.Event]
    val q = StreamOps.firstEventPerKey(input)
      .writeStream.format("memory").queryName("s2b_spec")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // emissions are improvements ONLY: u1 = initial(500,7) then
    // improved(100,9); the worse batch-3 event emits nothing
    val all = spark.table("s2b_spec").as[StreamOps.FirstEvent].collect()
    val u1 = all.filter(_.user_id == 1L)
    assert(u1.length == 2)
    assert(u1.contains(StreamOps.FirstEvent(1L, 100L, 9L, "early")))
    assert(all.contains(StreamOps.FirstEvent(2L, 100L, 3L, "only")))
  }

  test("minIdPerKey: min survives batch boundaries; non-improving batches emit nothing") {
    val dir = Inputs.scratchDir("graft-stream-dedup")
    // batch 1: key 10 seen at id 5; batch 2: a SMALLER id arrives (emit);
    // batch 3: a larger id (silent)
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"), "k\tid\n10\t5\n20\t9\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"), "k\tid\n10\t2\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "c.tsv"), "k\tid\n10\t8\n20\t9\n")
    val input = spark.readStream
      .schema(StructType.fromDDL("k LONG, id LONG"))
      .option("sep", "\t").option("header", true)
      .option("maxFilesPerTrigger", 1)
      .csv(dir).as[(Long, Long)]
    val q = StreamOps.minIdPerKey(input)
      .writeStream.format("memory").queryName("min_id_spec")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val all = spark.table("min_id_spec").as[StreamOps.KeyMin].collect()
    // key 10: initial 5 then improvement 2 (batch 3's id 8 is silent);
    // key 20: exactly once despite appearing in two batches
    assert(all.filter(_.key == 10L).map(_.min_id).sorted.toSeq == Seq(2L, 5L))
    assert(all.filter(_.key == 20L).map(_.min_id).toSeq == Seq(9L))
    // folded sink == SQL min per key
    val folded = all.groupBy(_.key).view.mapValues(_.map(_.min_id).min).toMap
    assert(folded == Map(10L -> 2L, 20L -> 9L))
  }

  test("minIdPerKeyExpiring: in-window results match the unexpiring min-fold") {
    // the minIdPerKey improvement scenario with timestamps, ttl large
    // enough that nothing retires — emissions must be identical
    val dir = Inputs.scratchDir("graft-stream-dedup2")
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"),
      "key\tid\tts\n10\t5\t10000000\n20\t9\t10500000\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"),
      "key\tid\tts\n10\t2\t11000000\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "c.tsv"),
      "key\tid\tts\n10\t8\t12000000\n20\t9\t12500000\n")
    val input = spark.readStream
      .schema(StructType.fromDDL("key LONG, id LONG, ts LONG"))
      .option("sep", "\t").option("header", true)
      .option("maxFilesPerTrigger", 1)
      .csv(dir).as[StreamOps.KeyIdTs]
    val q = StreamOps.minIdPerKeyExpiring(input,
      watermarkDelay = "1 second", ttlMs = Long.MaxValue / 4)
      .writeStream.format("memory").queryName("min_id_exp_inwindow")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val all = spark.table("min_id_exp_inwindow").as[StreamOps.KeyMin].collect()
    // identical to the NoTimeout spec: key 10 emits 5 then 2 (8 silent),
    // key 20 exactly once; fold == SQL min(id) per key
    assert(all.filter(_.key == 10L).map(_.min_id).sorted.toSeq == Seq(2L, 5L))
    assert(all.filter(_.key == 20L).map(_.min_id).toSeq == Seq(9L))
    val folded = all.groupBy(_.key).view.mapValues(_.map(_.min_id).min).toMap
    assert(folded == Map(10L -> 2L, 20L -> 9L))
  }

  test("minIdPerKeyExpiring: a retired content hash re-admits its next crawl") {
    val dir = Inputs.scratchDir("graft-stream-dedup3")
    // batch 1: key 10 at t=10s, id 5. ttl=2s → expiry armed at 12s.
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"),
      "key\tid\tts\n10\t5\t10000000\n")
    Thread.sleep(20)
    // batch 2: watermark advance; batch 3: tick fires key 10's timeout
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"),
      "key\tid\tts\n20\t7\t100000000\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "c.tsv"),
      "key\tid\tts\n30\t8\t110000000\n")
    Thread.sleep(20)
    // batch 4: key 10 re-crawled under a HIGHER id. Live state would
    // suppress it (5 <= 9); retired state re-admits it as a new first —
    // the retirement proof
    Files.writeString(java.nio.file.Paths.get(dir, "d.tsv"),
      "key\tid\tts\n10\t9\t200000000\n")
    val input = spark.readStream
      .schema(StructType.fromDDL("key LONG, id LONG, ts LONG"))
      .option("sep", "\t").option("header", true)
      .option("maxFilesPerTrigger", 1)
      .csv(dir).as[StreamOps.KeyIdTs]
    val q = StreamOps.minIdPerKeyExpiring(input,
      watermarkDelay = "1 second", ttlMs = 2000L)
      .writeStream.format("memory").queryName("min_id_exp_retire")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val k10 = spark.table("min_id_exp_retire").as[StreamOps.KeyMin].collect()
      .filter(_.key == 10L).map(_.min_id).sorted.toSeq
    assert(k10 == Seq(5L, 9L))
  }

  test("firstEventPerKeyExpiring: in-window results match the unexpiring variant") {
    // same 3-batch improvement scenario as the NoTimeout spec, ttl large
    // enough that nothing retires — outputs must be identical
    val dir = Inputs.scratchDir("graft-stream5")
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"),
      "user_id\tts\tevent_id\tevent_type\n1\t50000000\t7\tlate\n2\t10000000\t3\tonly\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"),
      "user_id\tts\tevent_id\tevent_type\n1\t10000000\t9\tearly\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "c.tsv"),
      "user_id\tts\tevent_id\tevent_type\n1\t90000000\t11\tworse\n")
    val schema = StructType.fromDDL(
      "user_id LONG, ts LONG, event_id LONG, event_type STRING")
    def input = spark.readStream.schema(schema)
      .option("sep", "\t").option("header", true)
      .option("maxFilesPerTrigger", 1)
      .csv(dir).as[StreamOps.Event]
    val q = StreamOps.firstEventPerKeyExpiring(input,
      watermarkDelay = "1 second", ttlMs = Long.MaxValue / 4)
      .writeStream.format("memory").queryName("s2c_inwindow")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val all = spark.table("s2c_inwindow").as[StreamOps.FirstEvent].collect()
    val u1 = all.filter(_.user_id == 1L)
    assert(u1.length == 2) // initial then improvement; worse batch silent
    assert(u1.contains(StreamOps.FirstEvent(1L, 10000000L, 9L, "early")))
    assert(all.contains(StreamOps.FirstEvent(2L, 10000000L, 3L, "only")))
  }

  test("firstEventPerKeyExpiring: keys retire once the watermark passes their ttl") {
    val dir = Inputs.scratchDir("graft-stream6")
    // batch 1: u1 at t=10s. ttl=2s → armed to expire at event-time 12s.
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"),
      "user_id\tts\tevent_id\tevent_type\n1\t10000000\t1\tfirst\n")
    Thread.sleep(20)
    // batch 2: u2 at t=100s advances the watermark to 99s >> 12s
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"),
      "user_id\tts\tevent_id\tevent_type\n2\t100000000\t2\twm-advance\n")
    Thread.sleep(20)
    // batch 3: unrelated tick — u1's timeout FIRES here (watermark at
    // batch start now exceeds it), removing u1's state silently
    Files.writeString(java.nio.file.Paths.get(dir, "c.tsv"),
      "user_id\tts\tevent_id\tevent_type\n3\t110000000\t3\ttick\n")
    Thread.sleep(20)
    // batch 4: a LATER u1 event (t=200s, not late vs watermark). With
    // live state this is worse-than-held and silent; with retired state
    // it re-opens the key and emits as a new first — the retirement proof
    Files.writeString(java.nio.file.Paths.get(dir, "d.tsv"),
      "user_id\tts\tevent_id\tevent_type\n1\t200000000\t4\treborn\n")
    val schema = StructType.fromDDL(
      "user_id LONG, ts LONG, event_id LONG, event_type STRING")
    val input = spark.readStream.schema(schema)
      .option("sep", "\t").option("header", true)
      .option("maxFilesPerTrigger", 1)
      .csv(dir).as[StreamOps.Event]
    val q = StreamOps.firstEventPerKeyExpiring(input,
      watermarkDelay = "1 second", ttlMs = 2000L)
      .writeStream.format("memory").queryName("s2c_expiry")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val u1 = spark.table("s2c_expiry").as[StreamOps.FirstEvent].collect()
      .filter(_.user_id == 1L).sortBy(_.first_ts)
    assert(u1.length == 2)
    assert(u1(0) == StreamOps.FirstEvent(1L, 10000000L, 1L, "first"))
    assert(u1(1) == StreamOps.FirstEvent(1L, 200000000L, 4L, "reborn"))
  }

  test("firstWinsExpiring: retired key re-emits; live key stays deduped") {
    val dir = Inputs.scratchDir("graft-stream7")
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"),
      "key\tpayload\tts\nk1\tfirst\t10000000\nk2\tkeep\t10500000\n")
    Thread.sleep(20)
    // k1 dup in-window (suppressed) + watermark advance
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"),
      "key\tpayload\tts\nk1\tdup\t11000000\nk9\twm\t100000000\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "c.tsv"),
      "key\tpayload\tts\nk8\ttick\t110000000\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "d.tsv"),
      "key\tpayload\tts\nk1\treborn\t200000000\n")
    val schema = StructType.fromDDL("key STRING, payload STRING, ts LONG")
    val input = spark.readStream.schema(schema)
      .option("sep", "\t").option("header", true)
      .option("maxFilesPerTrigger", 1)
      .csv(dir).as[StreamOps.KeyedTs]
    val q = StreamOps.firstWinsExpiring(input,
      watermarkDelay = "1 second", ttlMs = 2000L)
      .writeStream.format("memory").queryName("s2c_fw_expiry")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val k1 = spark.table("s2c_fw_expiry").as[StreamOps.FirstSeen].collect()
      .filter(_.key == "k1").map(_.payload).toSet
    assert(k1 == Set("first", "reborn")) // dup suppressed, retirement re-opens
  }

  test("streaming HLL registers are bit-identical to the batch sketch") {
    val dir = Inputs.scratchDir("graft-hll")
    // two micro-batches with overlapping values — the union must match
    // the batch registers over all values
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"),
      "k\tv\n" + (0 until 400).map(i => s"a\tv$i").mkString("\n") + "\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"),
      "k\tv\n" + (200 until 700).map(i => s"a\tv$i").mkString("\n") + "\n")
    val schema = StructType.fromDDL("k STRING, v STRING")
    val input = spark.readStream.schema(schema)
      .option("sep", "\t").option("header", true)
      .option("maxFilesPerTrigger", 1)
      .csv(dir).as[(String, String)]
    val q = StreamOps.hllPerKey(input)
      .writeStream.format("memory").queryName("s2g_spec")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // final sketch per key = min register_sum (monotone as registers fill)
    val got = spark.table("s2g_spec")
      .groupBy(col("key"))
      .agg(org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.struct(col("register_sum"),
          col("n_occupied"))).as("m"))
      .select(col("m.register_sum"), col("m.n_occupied"))
      .as[(Long, Long)].head()
    val batch = graft.llm.Sketches.hllEstimate(
      graft.llm.Sketches.hllRegisters(
        (0 until 700).map(i => ("a", s"v$i")).toDF("k", "v"), "k", "v"), "k")
      .select(col("register_sum"), col("n_occupied"))
      .as[(Long, Long)].head()
    assert(got == batch)
  }

  test("streaming count-min grid is bit-identical to the batch counters") {
    val dir = Inputs.scratchDir("graft-cm")
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"),
      "v\n" + (0 until 300).map(i => s"w${i % 90}").mkString("\n") + "\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"),
      "v\n" + (0 until 200).map(i => s"w${i % 70}").mkString("\n") + "\n")
    val schema = StructType.fromDDL("v STRING")
    val input = spark.readStream.schema(schema)
      .option("sep", "\t").option("header", true)
      .option("maxFilesPerTrigger", 1)
      .csv(dir)
      .select(col("v"), explode(array((0 until 4).map(lit): _*)).as("j"))
      .select(col("j"), (graft.llm.TextOps.h64c(
        concat(col("j").cast("string"), lit(":"), col("v"))) % 1024L)
        .as("slot"))
      .as[(Int, Long)]
    val q = StreamOps.countMinRows(input)
      .writeStream.format("memory").queryName("s2h_spec")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("s2h_spec")
      .groupBy(col("j"), col("slot"))
      .agg(org.apache.spark.sql.functions.max(col("cnt")).as("cnt"))
    val batch = graft.llm.Sketches.countMinCounters(
      ((0 until 300).map(i => s"w${i % 90}") ++
        (0 until 200).map(i => s"w${i % 70}")).toDF("v"), "v")
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming quantile histogram is bit-identical to the batch one") {
    val dir = Inputs.scratchDir("graft-hq")
    // two overlapping batches spanning several octaves per key
    Files.writeString(java.nio.file.Paths.get(dir, "a.tsv"),
      "k\tv\n" + (1 until 400).map(i => s"a\t${i * 3}\nb\t${i * 7}").mkString("\n") + "\n")
    Thread.sleep(20)
    Files.writeString(java.nio.file.Paths.get(dir, "b.tsv"),
      "k\tv\n" + (1 until 300).map(i => s"a\t${i * 5}").mkString("\n") + "\n")
    val schema = StructType.fromDDL("k STRING, v LONG")
    val input = spark.readStream.schema(schema)
      .option("sep", "\t").option("header", true)
      .option("maxFilesPerTrigger", 1)
      .csv(dir)
      .select(col("k"), graft.llm.Sketches.logBucket("v").as("bucket_id"))
      .as[(String, Long)]
    val q = StreamOps.histogramRows(input)
      .writeStream.format("memory").queryName("s2i_spec")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("s2i_spec")
      .groupBy(col("key"), col("bucket_id"))
      .agg(org.apache.spark.sql.functions.max(col("c")).as("c"))
    val batch = graft.llm.Sketches.logHistogramPerKey(
      ((1 until 400).flatMap(i => Seq(("a", i.toLong * 3), ("b", i.toLong * 7))) ++
        (1 until 300).map(i => ("a", i.toLong * 5))).toDF("key", "v"),
      "key", "v")
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("lookback filter keeps only recent rows") {
    val df = Seq(("2026-01-10 00:00:00", 1L), ("2026-01-01 00:00:00", 2L))
      .toDF("ts_s", "id").withColumn("ts", col("ts_s").cast("timestamp"))
    val out = StreamOps.lookbackFilter(df, "ts", 5,
      java.sql.Timestamp.valueOf("2026-01-12 00:00:00"))
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L))
  }
}
