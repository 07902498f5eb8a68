package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Test-only feed builders: materialize the documents table as N
  * id-ordered slice FILES with ascending modification times, so a file
  * stream with maxFilesPerTrigger=1 replays the corpus one slice per
  * micro-batch in id order — the harness for cross-micro-batch state laws
  * (the eventsTimeSliced pattern, document-keyed). */
object TestFeeds {
  def slicedDocs(spark: SparkSession, sfDir: String, n: Int): String = {
    val base = Files.createTempDirectory("graft_docslice").toString
    val docs = Tables.load(spark, sfDir, "documents")
    val cuts = docs.stat.approxQuantile("doc_id",
      (1 until n).map(_.toDouble / n).toArray, 0.0)
    val bounds = (Double.NegativeInfinity +: cuts) :+ Double.PositiveInfinity
    val t0 = System.currentTimeMillis()
    for (i <- 0 until n)
      Tables.writeSingleFile(
        docs.filter(col("doc_id") > bounds(i) && col("doc_id") <= bounds(i + 1)),
        f"$base/docs_$i%02d.parquet", Some(t0 + i * 1000L))
    base
  }
}
