package graft

import java.nio.file.{Files, Path => JPath}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.StructType

import graft.sources.Readers

/** `Readers.footerSchema` reads a parquet footer on the driver and must
  * return exactly what Spark's own inference (`spark.read.parquet(p).schema`,
  * one Spark job) returns; the corpus loader reads every table's footer
  * through it (SchemaDriftSpec counts 0 jobs for preflight and cold loads). */
class FooterSchemaSpec extends SparkSpec {
  import spark.implicits._

  /** The session confs Spark's parquet schema inference reads. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema", "spark.sql.caseSensitive")

  private def withConfs[T](kvs: Seq[(String, String)])(body: => T): T = kvs match {
    case (k, v) +: rest => withConf(k, v)(withConfs(rest)(body))
    case _ => body
  }

  /** The schema, or the failure's innermost cause as (class, message): a
    * type Spark refuses must fail both reads the same way. */
  private def outcome(read: => StructType): Either[(String, String), StructType] =
    Try(read).toEither.left.map { t =>
      val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
      (root.getClass.getName, root.getMessage)
    }

  private def assertSameAsSpark(p: String, clue: Any): Unit = {
    val spark0 = outcome(spark.read.parquet(p).schema)
    assert(outcome(Readers.footerSchema(spark, p)) == spark0, s"$clue at $p")
  }

  /** A footer-only parquet file of `message` written by parquet-mr, so
    * it carries no Spark row metadata and Spark's converter decides every
    * type. */
  private def writeFooter(dir: JPath, name: String, message: String): String = {
    val p = dir.resolve(name).toString
    val schema = MessageTypeParser.parseMessageType(message)
    val conf = spark.sessionState.newHadoopConf()
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(p), conf))
      .withConf(conf).withType(schema).build().close()
    p
  }

  test("the driver footer schema equals Spark's inference under every inference conf") {
    val dir = Files.createTempDirectory("graft_footer_types")
    val converted = writeFooter(dir, "types.parquet", """message m {
      required int32 small (INTEGER(8,true));
      optional int32 u32 (INTEGER(32,false));
      optional int32 day (DATE);
      optional int64 ntz (TIMESTAMP(MICROS,false));
      optional int64 micros (TIMESTAMP(MICROS,true));
      optional int64 millis (TIMESTAMP(MILLIS,true));
      optional binary raw;
      optional binary str (STRING);
      optional int32 d32 (DECIMAL(5,2));
      optional fixed_len_byte_array(9) d20 (DECIMAL(20,2));
      optional group vec (LIST) { repeated group list { optional float element; } }
      required group st { optional int32 a; required double b; optional binary c; }
      optional group mp (MAP) {
        repeated group key_value { required binary key (STRING); optional int64 value; }
      }
    }""")
    val int96 = writeFooter(dir, "int96.parquet", "message m { required int96 ts; }")
    val nanos = writeFooter(dir, "nanos.parquet",
      "message m { optional int64 ts (TIMESTAMP(NANOS,true)); optional int64 id; }")
    // Spark's own writer stores its row schema in the footer metadata, and
    // that schema wins over the converter
    val written = dir.resolve("spark.parquet").toString
    withConf("spark.sql.parquet.outputTimestampType", "INT96") {
      Seq((1L, "a", Array[Byte](1, 2), BigDecimal("1.25"), Seq(1.5f), (1, "x"),
        Map("k" -> 2L), java.sql.Timestamp.valueOf("2024-01-15 10:30:00"),
        java.time.LocalDateTime.parse("2024-01-15T10:30:00")))
        .toDF("id", "s", "b", "dec", "vec", "st", "mp", "ts", "ntz")
        .write.parquet(written)
    }
    // Spark's defaults, then each conf flipped alone: both values of each
    val defaults = inferenceConfs.zip(Seq(false, false, true, true, false, false))
    val combos = defaults +: defaults.indices.map(i =>
      defaults.updated(i, defaults(i)._1 -> !defaults(i)._2))
    val files = Seq(converted, int96, nanos, written)
    for (combo <- combos; confs = combo.map { case (k, v) => k -> v.toString })
      withConfs(confs)(files.foreach(assertSameAsSpark(_, confs)))
    // the converter's cases really differ across the confs: the comparison
    // above is not between two constant answers
    def strType(binaryAsString: Boolean) =
      withConf("spark.sql.parquet.binaryAsString", binaryAsString.toString)(
        Readers.footerSchema(spark, converted)("raw").dataType.simpleString)
    assert(strType(binaryAsString = false) == "binary" && strType(binaryAsString = true) == "string")
    assert(withConf("spark.sql.legacy.parquet.nanosAsLong", "true")(
      Readers.footerSchema(spark, nanos)("ts").dataType.simpleString) == "bigint")
    assert(withConf("spark.sql.legacy.parquet.nanosAsLong", "false")(
      outcome(Readers.footerSchema(spark, nanos))).isLeft)
  }

  test("the driver footer schema equals Spark's on every corpus table") {
    for (t <- Tables.names; nanosAsLong <- Seq("false", "true"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong)(
        assertSameAsSpark(Tables.path(sfDir, t), s"nanosAsLong=$nanosAsLong"))
  }

  test("a directory and mergeSchema=true still take Spark's inference") {
    val dir = Files.createTempDirectory("graft_footer_dir").toString
    Seq((1L, "a", 2024), (2L, "b", 2025)).toDF("k", "v", "year")
      .write.partitionBy("year").parquet(s"$dir/part")
    val part = Readers.footerSchema(spark, s"$dir/part")
    assert(part == spark.read.parquet(s"$dir/part").schema && part.fieldNames.contains("year"), part)
    // two files whose columns differ: only a merge sees both
    Seq((1L, "a")).toDF("k", "a").write.parquet(s"$dir/merge/f1")
    Seq((2L, 2.5)).toDF("k", "b").write.parquet(s"$dir/merge/f2")
    val file = Files.list(java.nio.file.Paths.get(s"$dir/merge/f1")).toArray
      .map(_.toString).find(_.endsWith(".parquet")).get
    val merged = withConf("spark.sql.parquet.mergeSchema", "true") {
      // even a single file goes through Spark under a session-wide merge
      assert(jobsOf(Readers.footerSchema(spark, file)) == 1)
      Readers.footerSchema(spark, s"$dir/merge/*")
    }
    assert(merged.fieldNames.toSet == Set("k", "a", "b"), merged)
    assert(merged == withConf("spark.sql.parquet.mergeSchema", "true")(
      spark.read.parquet(s"$dir/merge/*").schema))
    assert(jobsOf(Readers.footerSchema(spark, file)) == 0)
  }

  test("a missing path fails as Spark's read does") {
    val dir = Files.createTempDirectory("graft_footer_missing").toString
    val missing = s"$dir/nope.parquet"
    val ours = outcome(Readers.footerSchema(spark, missing))
    assert(ours.isLeft && ours == outcome(spark.read.parquet(missing).schema), ours)
    val load = outcome(Tables.load(spark, dir, "nation").schema)
    assert(load.left.exists(_._2.contains("PATH_NOT_FOUND")), load)
  }
}
