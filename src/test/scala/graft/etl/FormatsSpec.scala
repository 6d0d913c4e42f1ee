package graft.etl

import graft.SparkSpec
import java.nio.file.Files

/** Source/sink format round-trips beyond parquet: CSV and NDJSON (the
  * reference's interchange formats). Each write must read back
  * value-identical. */
class FormatsSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("formats").toFile.getAbsolutePath
  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "lang", "text")

  test("CSV round-trip with explicit schema is value-identical") {
    // escape-sensitive: doc text contains commas/quotes/newlines
    docs.write.mode("overwrite").option("header", "true")
      .option("escape", "\"").csv(s"$dir/docs_csv")
    val back = spark.read.schema(docs.schema)
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true").csv(s"$dir/docs_csv")
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("NDJSON round-trip is value-identical under explicit schema") {
    Sinks.ndjson(docs, s"$dir/docs_json",
      org.apache.spark.sql.SaveMode.Overwrite)
    val back = spark.read.schema(docs.schema).json(s"$dir/docs_json")
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }
}
