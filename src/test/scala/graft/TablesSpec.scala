package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins `Tables.events` against BOTH parquet encodings the driver has
  * shipped for `ts` — nanosecond longs (the INT64 TIMESTAMP(NANOS) file
  * surfaces as LongType under `nanosAsLong=true`) and plain µs
  * TIMESTAMP — asserting byte-identical `(ts_ns, ts)` from each. A
  * future silent testdata regeneration then downgrades from a 50-query
  * outage (round 10) to a no-op.
  */
class TablesSpec extends AnyFunSuite with SparkFixture {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_$name").toString

  // one µs-grain instant per row; deliberately includes a tied pair at
  // different event_ids (the ordering-sensitive case)
  private val micros = Seq(
    (1L, 1700000000000000L, 10L, "view"),
    (2L, 1700000000000001L, 11L, "click"),
    (3L, 1700000000000001L, 12L, "view"),
    (4L, 1700003600123456L, 10L, "purchase"))

  private def writeNanosLong(dir: String): Unit = {
    import spark.implicits._
    micros.map { case (id, us, u, t) => (id, us * 1000L, u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeMicrosTimestamp(dir: String): Unit = {
    import spark.implicits._
    micros.toDF("event_id", "ts_us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def load(dir: String): Seq[(Long, Long, java.sql.Timestamp)] = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts_ns"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .collect().toSeq.sortBy(_._1)
  }

  test("events loader yields identical (ts_ns, ts) from nanos-long and µs-timestamp files") {
    val nanosDir = tmp("events_nanos")
    val usDir = tmp("events_us")
    writeNanosLong(nanosDir)
    writeMicrosTimestamp(usDir)

    val fromNanos = load(nanosDir)
    val fromMicros = load(usDir)
    assert(fromNanos == fromMicros,
      "the two encodings must produce the same downstream contract")
    // and the values are the expected epoch quantities, not merely equal
    val expected = micros.map { case (id, us, _, _) =>
      (id, us * 1000L, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000L)))
    }
    assert(fromNanos == expected)
  }

  test("events loader exposes ts as TimestampType and ts_ns as LongType for both encodings") {
    val nanosDir = tmp("events_nanos_t")
    val usDir = tmp("events_us_t")
    writeNanosLong(nanosDir)
    writeMicrosTimestamp(usDir)
    for (dir <- Seq(nanosDir, usDir)) {
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType, s"ts type in $dir")
      assert(df.schema("ts_ns").dataType == LongType, s"ts_ns type in $dir")
    }
  }

  test("events loader rejects an unsupported ts type with a loud message") {
    import spark.implicits._
    val dir = tmp("events_bad")
    micros.map { case (id, us, u, t) => (id, us.toString, u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unsupported type"))
  }

  test("events loader rejects a file with no ts column, naming the observed columns") {
    import spark.implicits._
    val dir = tmp("events_nots")
    Seq((1L, "x")).toDF("event_id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("no `ts` column") && e.getMessage.contains("payload"))
  }

  test("documents/embeddings loaders reject schema drift with expected-vs-observed messages") {
    import spark.implicits._
    val dir = tmp("drift")
    // documents with text renamed away
    Seq((1L, "en")).toDF("doc_id", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e1 = intercept[IllegalArgumentException](Tables.documents(spark, dir))
    assert(e1.getMessage.contains("missing column `text`"))
    // embeddings with double elements instead of float
    Seq((1L, Array(0.1, 0.2), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e2 = intercept[IllegalArgumentException](Tables.embeddings(spark, dir))
    assert(e2.getMessage.contains("unsupported type array<double>"))
  }

  test("lang/label are optional at load, type-checked when present, loud at their consumers") {
    import spark.implicits._
    val dir = tmp("optional")
    // documents without lang: loads fine (dedup/text-quality fixtures ship
    // this shape), but the lang consumers' entry check names the gap
    Seq((1L, "hello world")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = Tables.documents(spark, dir)
    assert(docs.count() == 1)
    val e1 = intercept[IllegalArgumentException](Tables.requireLang(docs))
    assert(e1.getMessage.contains("missing column `lang`"))
    // embeddings without label: same contract
    Seq((1L, Array(0.1f, 0.2f))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val embs = Tables.embeddings(spark, dir)
    assert(embs.count() == 1)
    val e2 = intercept[IllegalArgumentException](Tables.requireLabel(embs))
    assert(e2.getMessage.contains("missing column `label`"))
    // a PRESENT lang of the wrong type is still rejected at load — drift
    // to a non-string lang would silently change groupings otherwise
    Seq((1L, "t", 7L)).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e3 = intercept[IllegalArgumentException](Tables.documents(spark, dir))
    assert(e3.getMessage.contains("`lang`") && e3.getMessage.contains("unsupported type"))
  }

  test("driver testdata loads through the guarded loaders") {
    assert(Tables.documents(spark, sf).limit(1).count() == 1)
    assert(Tables.embeddings(spark, sf).limit(1).count() == 1)
    assert(Tables.events(spark, sf).limit(1).count() == 1)
  }

  // ---- Tables.parquet: the schema-memo reader --------------------------

  /** Spark jobs launched while `body` runs, counted off a listener
    * after the bus has drained.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("parquet: a memo hit launches no job and equals a bare read, flat and hive-partitioned") {
    import spark.implicits._
    val dir = tmp("memo_hit")
    val data = Seq((1L, "a", 10), (2L, "b", 20), (3L, null, 10)).toDF("id", "s", "p")
    data.coalesce(1).write.parquet(s"$dir/flat.parquet")
    data.write.partitionBy("p").parquet(s"$dir/parted.parquet")
    for (path <- Seq(s"$dir/flat.parquet", s"$dir/parted.parquet")) {
      val (_, missJobs) = jobsDuring(Tables.parquet(spark, path))
      assert(missJobs > 0, s"$path: a first read infers the schema with a job")
      val (hit, hitJobs) = jobsDuring(Tables.parquet(spark, path))
      assert(hitJobs == 0, s"$path: a memo hit must launch no Spark job")
      val bare = spark.read.parquet(path)
      // StructType equality covers names, types, order, nullability, metadata
      assert(hit.schema == bare.schema, s"$path: ${hit.schema} vs ${bare.schema}")
      assert(rows(hit) == rows(bare), path)
    }
    assert(spark.read.parquet(s"$dir/parted.parquet").schema.last.name == "p",
      "the partitioned fixture must expose its partition column")
  }

  test("parquet: a table rewritten in place with an extra column is re-inferred") {
    import spark.implicits._
    val path = s"${tmp("memo_rewrite")}/t.parquet"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("id", "s"))
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("id", "s"))
    Seq((2L, "b", 7.5)).toDF("id", "s", "x").write.mode("overwrite").parquet(path)
    val after = Tables.parquet(spark, path)
    assert(after.columns.toSeq == Seq("id", "s", "x"))
    assert(rows(after) == Seq("[2,b,7.5]"))
  }

  /** An events table whose `ts` is INT64 TIMESTAMP(NANOS) — the
    * encoding only `spark.sql.legacy.parquet.nanosAsLong` admits.
    * Spark cannot write it, so the parquet example writer does.
    */
  private def writeTimestampNanos(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try micros.foreach { case (id, us, _, _) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", us * 1000L))
    } finally w.close()
  }

  test("parquet: flipping nanosAsLong re-infers events.ts instead of serving the memo") {
    val dir = tmp("memo_nanos")
    writeTimestampNanos(dir)
    val path = s"$dir/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.parquet(spark, path).schema("ts").dataType == LongType)
      assert(Tables.parquet(spark, path).schema("ts").dataType == LongType)
      assert(load(dir).map(_._2) == micros.map(_._2 * 1000L))
      spark.conf.set(key, "false")
      val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
      assert(e.getMessage.contains("nanosAsLong"), e.getMessage)
      spark.conf.set(key, "true")
      assert(Tables.parquet(spark, path).schema("ts").dataType == LongType)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("parquet: four threads reading one path concurrently get one schema") {
    import spark.implicits._
    val path = s"${tmp("memo_threads")}/t.parquet"
    Seq((1L, "a", Array(1.0f))).toDF("id", "s", "v").write.parquet(path)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.types.StructType] {
          def call() = { start.await(); Tables.parquet(spark, path).schema }
        })
      }
      start.countDown()
      val schemas = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(schemas.distinct.size == 1)
      assert(schemas.head == spark.read.parquet(path).schema)
    } finally pool.shutdown()
  }
}
