package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types._

import graft.sources.Readers

/** Drift fixtures per FIXTURES.md §A: the same column with different
  * physical types across files (int32 vs int64 zone ids, float vs double
  * fares), plus a file missing a column entirely. */
class SchemaDriftSpec extends SparkSpec {
  import spark.implicits._

  private val canonical = StructType(Seq(
    StructField("PULocationID", LongType),
    StructField("trip_miles", DoubleType),
    StructField("airport_fee", DoubleType)))

  /** Spark jobs `body` launches, counted by a SparkListener on its job
    * group. The listener bus is asynchronous; a marker job run after `body`
    * is delivered after all of body's events, so waiting for it drains
    * them. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(): Unit
          case Some(g) if g == s"$group-marker" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("readDrifted reconciles int→long, float→double, and missing columns") {
    val dir = Files.createTempDirectory("graft_drift").toString
    // month 1: int zone ids, float miles, no airport_fee column
    Seq((1, 1.5f), (2, 2.5f)).toDF("PULocationID", "trip_miles")
      .write.parquet(s"$dir/m1.parquet")
    // month 2: long zone ids, double miles, airport_fee present
    Seq((3L, 3.5, 2.75), (4L, 4.5, 0.0))
      .toDF("PULocationID", "trip_miles", "airport_fee")
      .write.parquet(s"$dir/m2.parquet")

    // mergeSchema cannot reconcile the type conflict — this is the failure
    // mode the per-file path exists for
    intercept[Exception] {
      Readers.parquetMerged(spark, s"$dir/*.parquet").collect()
    }

    val df = Readers.readDrifted(spark,
      Seq(s"$dir/m1.parquet", s"$dir/m2.parquet"), canonical)
    assert(df.schema == canonical)
    val rows = df.orderBy("PULocationID").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows(0).isNullAt(2) && !rows(2).isNullAt(2))
    assert(math.abs(rows(0).getDouble(1) - 1.5) < 1e-6)
  }

  test("footerSchema reflects per-file physical types") {
    val dir = Files.createTempDirectory("graft_drift2").toString
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$dir/f.parquet")
    val s = Readers.footerSchema(spark, s"$dir/f.parquet")
    assert(s("k").dataType == IntegerType)
  }

  test("Tables.load adapts to regenerated corpus representations") {
    // events.ts across corpus generations: epoch-nano long, micros-NTZ
    // (the round-6 regeneration), string, date — all normalize to
    // TimestampType so every downstream predicate/window/watermark works
    val dir = Files.createTempDirectory("graft_regen").toString
    def loadEvents(writer: => Unit): org.apache.spark.sql.DataFrame = {
      writer
      Tables.load(spark, dir, "events")
    }
    val base = Seq((1L, "2024-01-15 10:30:00"), (2L, "2024-01-16 00:00:00"))
    // string ts
    var df = loadEvents {
      base.toDF("event_id", "ts").write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
    }
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.filter($"ts" >= "2024-01-16").count() == 1)
    // long ts (epoch nanos)
    df = loadEvents {
      base.map { case (id, s) =>
        (id, java.sql.Timestamp.valueOf(s).getTime * 1000000L) }
        .toDF("event_id", "ts").write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
    }
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.filter($"ts" >= "2024-01-16").count() == 1)
    // embeddings: double elements narrow to array<float> so the custom
    // similarity expressions still type-check after a widening regeneration
    Seq((1L, Array(1.0, 0.5)), (2L, Array(0.0, 2.0)))
      .toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val e = Tables.load(spark, dir, "embeddings")
    assert(e.schema("embedding").dataType == ArrayType(FloatType, true) ||
      e.schema("embedding").dataType == ArrayType(FloatType, false))
    // a representative custom expression must analyze and evaluate
    val cos = e.select(graft.functions.Sketches.cosineSim(
      $"embedding", $"embedding").as("c")).collect().map(_.getDouble(0))
    assert(cos.forall(c => math.abs(c - 1.0) < 1e-6))
  }

  test("preflight passes every corpus table and logs a fingerprint per table") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = (_: String, l: String) => synchronized {
      if (l.startsWith("event=corpus_schema")) lines += l: Unit
    }
    StructuredLog.addListener(listener)
    try Tables.names.foreach { t =>
      assert(Tables.preflightTable(spark, sfDir, t).isEmpty, s"table $t drifted")
    } finally StructuredLog.removeListener(listener)
    assert(lines.size == Tables.names.size, lines.mkString("\n"))
    assert(lines.forall(l => l.contains("footer=") && l.contains("fingerprint=")),
      lines.mkString("\n"))
    // footer once per session: on a fresh corpus, preflight infers each
    // table's schema with one job and every later load launches none
    val dir = Files.createTempDirectory("graft_footer").toString
    val tables = Seq("nation", "events", "embeddings")
    tables.foreach(t =>
      Files.copy(Paths.get(Tables.path(sfDir, t)), Paths.get(Tables.path(dir, t))))
    tables.foreach(t =>
      assert(jobsOf(Tables.preflightTable(spark, dir, t)) == 1, t))
    tables.foreach { t =>
      assert(jobsOf(Tables.load(spark, dir, t).schema) == 0, t)
      assert(Tables.load(spark, dir, t).schema ==
        Tables.load(spark, sfDir, t).schema, t)
    }
  }

  test("preflight fails loudly on unhandled drift, passes handled drift") {
    val dir = Files.createTempDirectory("graft_preflight").toString
    // UNHANDLED: events.props regenerated as a struct — no loader adapts
    // this, so the gate must fail with the diff, not let queries misread
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 1.0, (1, 2)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val diff = Tables.preflightTable(spark, dir, "events")
    assert(diff.isDefined && diff.get.contains("events"), diff.toString)
    assert(jobsOf(Tables.load(spark, dir, "events").schema) == 0)
    // HANDLED: ts as epoch-nano long (normalizeTs absorbs it) must pass
    Seq((1L, 1704067200000000000L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the replaced file is inferred again (one job), not served stale
    assert(jobsOf(assert(Tables.preflightTable(spark, dir, "events").isEmpty)) == 1)
    assert(Tables.load(spark, dir, "events").schema("props").dataType == StringType)
    assert(Tables.rawSchema(spark, dir, "events")("ts").dataType == LongType)
    // UNHANDLED: embeddings as array<string> — normalizeEmbedding's cast
    // would silently null every element; the raw-footer gate must catch it
    Seq((1L, Array("a", "b"), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ediff = Tables.preflightTable(spark, dir, "embeddings")
    assert(ediff.isDefined && ediff.get.contains("numeric"), ediff.toString)
    // HANDLED: double embeddings (narrowed with a warning) must pass
    Seq((1L, Array(1.0, 0.5), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(Tables.preflightTable(spark, dir, "embeddings").isEmpty)
  }

  test("csv round-trips with explicit schema; FAILFAST rejects malformed rows") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val src = Tables.load(spark, sfDir, "documents").select("doc_id", "lang", "n_chars")
    src.write.option("header", "true").csv(s"$dir/docs")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType)))
    val back = Readers.csv(spark, s"$dir/docs", schema)
    assert(back.count() == src.count())
    assert(back.agg(org.apache.spark.sql.functions.sum("n_chars")).head.getLong(0) ==
      src.agg(org.apache.spark.sql.functions.sum("n_chars")).head.getLong(0))
    // a non-numeric value in a LongType column must fail loudly, not null-fill
    Files.write(java.nio.file.Paths.get(s"$dir/bad.csv"),
      "doc_id,lang,n_chars\nnot_a_number,en,7\n".getBytes)
    intercept[Exception] {
      Readers.csv(spark, s"$dir/bad.csv", schema).collect()
    }
  }

  test("jsonl round-trips with explicit schema") {
    val dir = Files.createTempDirectory("graft_jsonl").toString
    val src = Tables.load(spark, sfDir, "documents").select("doc_id", "lang", "n_chars")
    src.write.json(s"$dir/docs")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType)))
    val back = Readers.jsonl(spark, s"$dir/docs", schema)
    assert(back.count() == src.count())
    assert(back.orderBy("doc_id").collect().toSeq ==
      src.select("doc_id", "lang", "n_chars").orderBy("doc_id").collect().toSeq)
  }

  test("orc round-trips with explicit schema and pushes predicates to the scan") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val src = Tables.load(spark, sfDir, "documents").select("doc_id", "lang", "n_chars")
    Readers.writeOrc(src, s"$dir/docs")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType)))
    val back = Readers.orc(spark, s"$dir/docs", schema)
    assert(back.orderBy("doc_id").collect().toSeq ==
      src.orderBy("doc_id").collect().toSeq)
    // the ORC scan must carry the filter (row-group skipping) and prune
    // to the referenced columns, same as the parquet paths
    val q = back.filter(org.apache.spark.sql.functions.col("doc_id") > 100)
      .select("doc_id", "n_chars")
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang"), readSchema)
  }
}
