package graft.etl

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Field-map control-plane table (SURVEY.md §1.2 item 2, J1).
  *
  * The reference loads the CSV into a driver-side dict for O(1) probes
  * (/root/reference/redcap-etl.py:294-297); the Spark-native equivalent is a
  * small DataFrame marked for broadcast at the join site — same build-side
  * hash table, built once per executor instead of once per process.
  */
object FieldMap {

  private val options = Map("header" -> "true", "mode" -> "FAILFAST")

  /** Read a field-map CSV; pandas' NaN→None normalization
    * (redcap-etl.py:296) is how Spark's csv reader already behaves
    * (empty cell → null). Every column is a string, named from the header
    * line; for one data file the names are read on the driver, so loading
    * runs no Spark job. */
  def load(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.options(options)
    headerSchema(spark, path).fold(reader.csv(path))(reader.schema(_).csv(path))
  }

  /** The schema Spark's header inference gives `path`, built with the same
    * helpers from the header line of its one data file: a file, or a
    * directory (e.g. a `Sinks.csvSingle` output) whose only visible entry
    * is a file. None otherwise — with several files Spark takes the header
    * from the first file by split size, which only its own inference
    * reproduces — and for a glob, a missing path or an empty file, which
    * Spark's reader then handles and reports itself. */
  private def headerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    if (Bridge.isGlobPath(p)) return None
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val status = fs.getFileStatus(p)
    val files =
      if (status.isFile) Seq(status)
      else fs.listStatus(p).toSeq.filterNot(s => Bridge.isHiddenPath(s.getPath.getName))
    files match {
      case Seq(f) if f.isFile =>
        val csv = new CSVOptions(options, true,
          spark.conf.get("spark.sql.session.timeZone"))
        for {
          line <- CSVUtils.readHeaderLine(f.getPath, csv, conf)
          tokens <- Option(new CsvParser(csv.asParserSettings).parseLine(line))
        } yield {
          val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
          StructType(CSVUtils.makeSafeHeader(tokens, caseSensitive, csv)
            .map(StructField(_, StringType)))
        }
      case _ => None
    }
  }

  /** Normalize an in-memory or loaded frame to the canonical column set;
    * missing control columns materialize as nulls so downstream expressions
    * never need existence checks. */
  def normalize(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    val cols = Model.fieldMapColumns.map { c =>
      if (present(c)) col(s"`$c`") else lit(null).cast("string").as(c)
    }
    df.select(cols: _*)
  }
}
