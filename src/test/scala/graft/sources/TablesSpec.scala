package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import org.apache.spark.sql.{AnalysisException, DataFrame}

/** `Tables.load` infers the parquet schema on the driver where Spark's
  * inference would read one footer, and keeps Spark's inference (its job
  * and its errors) everywhere else. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (jobs while loading, the loaded frame). */
  private def loaded(dir: String, name: String): (Int, DataFrame) = {
    var df: DataFrame = null
    (jobsOf { df = Tables.load(spark, dir, name) }, df)
  }

  private def tmp(): JPath = Files.createTempDirectory("tables-spec")

  test("load: all ten tables get Spark's inferred schema and rows, with no job") {
    for (n <- names) {
      val (jobs, df) = loaded(sfDir, n)
      val ref = spark.read.parquet(s"$sfDir/$n.parquet")
      assert(jobs == 0, n)
      assert(df.schema == ref.schema, n)
      assert(df.collect().map(_.toString).toSeq == ref.collect().map(_.toString).toSeq, n)
    }
    // Spark's own inference is the one-task job the driver read replaces
    assert(jobsOf(spark.read.parquet(s"$sfDir/region.parquet")) == 1)
  }

  test("load: a flat directory reads the first data file in path order, " +
      "as Spark's inference does") {
    val dir = tmp()
    val t = dir.resolve("t.parquet")
    // two files with different schemas: only the first one's columns show
    Seq((1, "a")).toDF("x", "y").coalesce(1).write.parquet(dir.resolve("w1").toString)
    Seq(2).toDF("x").coalesce(1).write.parquet(dir.resolve("w0").toString)
    Files.createDirectory(t)
    def part(from: String, to: String): Unit = {
      val f = Files.list(dir.resolve(from)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get
      Files.copy(f, t.resolve(to), StandardCopyOption.REPLACE_EXISTING)
    }
    part("w0", "part-0.parquet")
    part("w1", "part-1.parquet")
    Files.write(t.resolve("_SUCCESS"), Array.emptyByteArray) // hidden
    val (jobs, df) = loaded(dir.toString, "t")
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(t.toString).schema)
    assert(df.columns.toSeq == Seq("x"))
  }

  test("load: Spark's inference (a job) for a glob, partition directories, " +
      "summary files and mergeSchema; its errors for a missing path or no data") {
    val dir = tmp()
    val src = s"$sfDir/region.parquet"
    // glob: the directory part of the path holds a wildcard
    Files.createDirectory(dir.resolve("g1"))
    Files.copy(JPath.of(src), dir.resolve("g1/region.parquet"))
    // partition directories
    Seq((1, "a"), (2, "b")).toDF("x", "p").write.partitionBy("p")
      .parquet(dir.resolve("parts.parquet").toString)
    // summary files: inference prefers them, so the driver read does not apply
    for (summary <- Seq("_metadata", "_common_metadata")) {
      val d = dir.resolve(s"sum$summary.parquet")
      Files.createDirectory(d)
      Files.copy(JPath.of(src), d.resolve("part-0.parquet"))
      Files.copy(JPath.of(src), d.resolve(summary))
    }
    val cases = Seq(s"$dir/g*" -> "region", dir.toString -> "parts",
      dir.toString -> "sum_metadata", dir.toString -> "sum_common_metadata")
    for ((d, n) <- cases) {
      val (jobs, df) = loaded(d, n)
      assert(jobs > 0, s"$d/$n")
      assert(df.schema == spark.read.parquet(s"$d/$n.parquet").schema, s"$d/$n")
    }
    assert(loaded(dir.toString, "parts")._2.columns.toSeq == Seq("x", "p"))
    // mergeSchema on: both files' columns, from Spark's merging job
    val merged = dir.resolve("merged.parquet")
    Seq(1).toDF("x").write.parquet(merged.resolve("a").toString)
    Seq(2L).toDF("z").write.parquet(merged.resolve("b").toString)
    val flat = dir.resolve("flat.parquet")
    Files.createDirectory(flat)
    for ((sub, i) <- Seq("a", "b").zipWithIndex) {
      val f = Files.list(merged.resolve(sub)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get
      Files.copy(f, flat.resolve(s"part-$i.parquet"))
    }
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val (jobs, df) = loaded(dir.toString, "flat")
      assert(jobs > 0)
      assert(df.columns.toSeq == Seq("x", "z"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // mergeSchema off: the first file's columns, read on the driver
    val (flatJobs, flat0) = loaded(dir.toString, "flat")
    assert(flatJobs == 0 && flat0.columns.toSeq == Seq("x"))
    // a missing path and a directory with no data file: Spark's own errors
    Files.createDirectory(dir.resolve("empty.parquet"))
    for (n <- Seq("missing", "empty")) {
      val ours = intercept[AnalysisException](Tables.load(spark, dir.toString, n))
      val spark0 = intercept[AnalysisException](spark.read.parquet(s"$dir/$n.parquet"))
      assert(ours.getCondition == spark0.getCondition, n)
    }
  }
}
