package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The reference's scan surface, re-expressed (SURVEY.md §2.1 S1-S6).
  *
  * S5 note: the reference lists files driver-side with `os.listdir`
  * (`calculate_top_taxi_zones.py:37-40`) and loops per file; the Spark-
  * native equivalent passes a glob to the reader and lets the
  * (distributed, parallel) file index do discovery — `listParquetFiles`
  * exists for API parity and uses Hadoop's FileSystem, which also works on
  * object stores (a local-listdir would not, at cluster scale).
  */
object Readers {
  /** S1/S3: parquet scan with explicit schema (glob or single path).
    * Reference `calculate_daily_transactions.py:48-50` / `:25-27`. */
  def parquet(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** S2: footer-inferred schema of one parquet file
    * (`calculate_top_taxi_zones.py:21-23`). */
  def footerSchema(spark: SparkSession, path: String): StructType =
    spark.read.parquet(path).schema

  /** S4: schema-merged scan across drifting files
    * (`spark.sql.parquet.mergeSchema`, `calculate_daily_transactions.py:119`).
    * Option-scoped instead of session-wide: merging footers is expensive at
    * large file counts, pay it only where drift exists. */
  def parquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** S5: file discovery via Hadoop FileSystem glob (works on HDFS/S3/local). */
  def listParquetFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.globStatus(new Path(p, "*.parquet")).toSeq.map(_.getPath.toString)
  }

  /** S6: in-memory literal frame (`calculate_daily_transactions.py:59-63`). */
  def literal(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  /** CSV scan with explicit schema. FAILFAST: at ingest scale a silently
    * null-filled malformed row (the PERMISSIVE default) poisons downstream
    * dedup/statistics — better to fail the file and quarantine it.
    * An explicit schema also skips the full-data inference pass. */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("mode", "FAILFAST")
      .csv(path)

  /** JSON-lines scan with explicit schema (multiline off: JSONL splits by
    * line, so a 100 GB file still reads as parallel partitions; a single
    * multiline JSON document cannot be split). */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("mode", "FAILFAST")
      .json(path)

  /** ORC scan with explicit schema — the other columnar lake format, in
    * Spark core (no external package), with the same predicate-pushdown /
    * column-pruning surface as parquet (min/max row-group skipping plus
    * optional bloom indexes on the write side). */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** ORC writer twin of the parquet paths (overwrite semantics). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Schema-drift reconciliation (the reference's mode 2, SURVEY.md §1.3):
    * NYC TLC changed physical column types across monthly files (e.g.
    * PULocationID int32 → int64), which `mergeSchema` refuses to merge —
    * exactly why the reference re-infers per file
    * (`calculate_top_taxi_zones.py:21-27`). Read each file with its own
    * footer schema, cast every present column to the canonical type, fill
    * absent columns with nulls, and union by name.
    *
    * Scale note: the per-file loop builds one lazy plan — N scans unioned,
    * executed as one distributed job, NOT N sequential jobs like the
    * reference's driver loop (§3.2). */
  def readDrifted(spark: SparkSession, paths: Seq[String],
                  canonical: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    paths.map { p =>
      val df = spark.read.parquet(p)
      val present = df.schema.fieldNames.toSet
      df.select(canonical.fields.toSeq.map { f =>
        if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }.reduce(_ unionByName _)
  }
}
