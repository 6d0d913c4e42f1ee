package graft.etl

import scala.io.Source
import scala.language.implicitConversions
import scala.util.control.NonFatal

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkException
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Field-map control-plane table (SURVEY.md §1.2 item 2, J1).
  *
  * The reference loads the CSV into a driver-side dict for O(1) probes
  * (redcap-etl.py:294-297). The Spark-native equivalent is
  * the same dict compiled into [[FieldMap.Rules]]: `field_name` sets that
  * the date shift and the PHI filter inline as `IN`/`InSet` predicates, so
  * the map never becomes a join side. The map is bounded by the REDCap
  * dictionary, not by participant count. The calc-variable and
  * secondary-id tables, which grow with participants (one entry each), are
  * read on the driver the same way ([[FieldMap.table]]) and probed as
  * broadcast dictionaries, as the reference holds them in driver dicts.
  */
object FieldMap {

  private val options = Map("header" -> "true", "mode" -> "FAILFAST")

  /** The field map as the de-id stages read it, deduplicated on
    * `field_name` keeping the first row in file order (the reference's dict
    * build keeps the last; duplicates in a curated control table are an
    * upstream data bug, and first-wins is deterministic). Two scopes, as
    * the stages have always deduplicated:
    *  - `dates`: (field, date status) over the date-status rows only — the
    *    date shift's view, in file order;
    *  - `known`, `phiDates`, `include`: over all rows — the PHI filter's
    *    view; `include` groups the `Include` fields by their parsed
    *    `restrict_to_event_list` (None = every event).
    * Fail-closed: a field whose first row is `Include` but which also has
    * a date-status row is a PHI date, not an `Include` field, so only its
    * cleaned date rows pass the PHI filter — never an unshifted value.
    * A null `field_name` is kept as a key but matches no EAV row, as in an
    * equi-join. */
  final case class Rules(
      known: Set[String],
      dates: Seq[(String, String)],
      phiDates: Set[String],
      include: Map[Option[Set[String]], Set[String]])

  object Rules {
    /** A field-map frame compiled with one collect (a local frame runs no
      * job). */
    implicit def compiled(fieldMap: DataFrame): Rules =
      compile(Table.of(normalize(fieldMap, columns)))

    /** The columns the stages read, in [[compile]]'s order. */
    private[FieldMap] val columns = Seq("field_name", "status", "restrict_to_event_list")

    private[FieldMap] def compile(t: Table): Rules = compile(t.rows.map(v => (v(0), v(1), v(2))))

    /** (field_name, status, restrict_to_event_list) rows, in file order. */
    def compile(rows: Seq[(String, String, String)]): Rules = {
      def dated(rs: Seq[(String, String, String)]) = rs.filter(r => Model.dateStatuses.contains(r._2))
      val first = rows.distinctBy(_._1)
      val dateFields = dated(rows).map(_._1).toSet
      val (datedInclude, include) =
        first.filter(_._2 == "Include").partition(r => dateFields(r._1))
      Rules(first.map(_._1).toSet, dated(rows).distinctBy(_._1).map(r => r._1 -> r._2),
        (dated(first) ++ datedInclude).map(_._1).toSet,
        include.groupMap(r => events(r._3))(_._1).view.mapValues(_.toSet).toMap)
    }

    /** An event list as `trim(split(list, ","))` reads it; null or blank
      * means every event. Spark's `trim` strips spaces only (a tab stays
      * part of the event name), unlike `String.trim`. */
    private def events(list: String): Option[Set[String]] = {
      def trim(s: String) = s.replaceAll("^ +| +$", "")
      Option(list).filter(trim(_).nonEmpty).map(_.split(",", -1).map(trim).toSet)
    }
  }

  /** `c IN (values)` without nulls, sorted so plans stay stable; false
    * when nothing is left. */
  private[etl] def isIn(c: Column, values: Iterable[String]): Column =
    values.filter(_ != null).toSeq.sorted match {
      case Seq() => lit(false)
      case vs => c.isin(vs: _*)
    }

  /** Read a field-map CSV; pandas' NaN→None normalization
    * (redcap-etl.py:296) is how Spark's csv reader already behaves
    * (empty cell → null). Every column is a string, named from the header
    * line; for one data file the names are read on the driver, so loading
    * runs no Spark job. */
  def load(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.options(options)
    oneFile(spark, path).fold(reader.csv(path))(f => reader.schema(f._2).csv(path))
  }

  /** The field map at `path`, compiled, from the three columns the stages
    * read ([[table]]: no Spark job for one data file). */
  def rules(spark: SparkSession, path: String): Rules =
    Rules.compile(table(spark, path, Some(Rules.columns)))

  /** A control CSV as the driver holds it: column names and rows of
    * strings (null for an empty cell), in file order. */
  private[etl] final case class Table(columns: IndexedSeq[String], rows: Vector[Array[String]]) {
    /** The position of column `name`; a missing one fails, naming the
      * columns the table has. */
    def index(name: String): Int = columns.indexOf(name) match {
      case -1 => throw new IllegalArgumentException(
        s"control table has no column '$name' (columns: ${columns.mkString(", ")})")
      case i => i
    }
  }

  private[etl] object Table {
    /** `df` collected with every column rendered by Spark's `cast(string)`
      * (a local frame runs no job). */
    def of(df: DataFrame): Table = Table(df.columns.toIndexedSeq,
      df.select(df.columns.toIndexedSeq.map(c => col(s"`$c`").cast("string")): _*)
        .collect().iterator.map(r => Array.tabulate(r.length)(r.getString)).toVector)
  }

  /** The CSV at `path` read on the driver, pruned to `wanted` (absent ones
    * read as null; None keeps every column). One data file is parsed by
    * Spark's own line-mode CSV parser with [[load]]'s options and column
    * pruning, so this runs no Spark job, and a parse failure names the
    * file; otherwise the file set is [[load]]ed and collected once. */
  private[etl] def table(spark: SparkSession, path: String,
      wanted: Option[Seq[String]] = None): Table =
    oneFile(spark, path) match {
      case None =>
        val df = load(spark, path)
        Table.of(wanted.fold(df)(w => normalize(df, w)))
      case Some((file, schema)) =>
        val names = wanted.getOrElse(schema.fieldNames.toSeq)
        val required = StructType(schema.filter(c => names.contains(c.name)))
        val at = names.map(required.fieldNames.indexOf(_)).toArray
        val csv = csvOptions(spark)
        val in = CodecStreams.createInputStream(spark.sparkContext.hadoopConfiguration, file)
        try Table(names.toIndexedSeq, Bridge.csvLines(
            Source.fromInputStream(in, csv.charset).getLines(), schema, required, csv).map { row =>
          at.map(i => if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i).toString)
        }.toVector)
        catch { case NonFatal(e) => throw new SparkException(s"cannot read $file: ${e.getMessage}", e) }
        finally in.close()
    }

  private def csvOptions(spark: SparkSession): CSVOptions =
    new CSVOptions(options, true, spark.conf.get("spark.sql.session.timeZone"))

  /** The one data file of `path` and the schema Spark's header inference
    * gives it, built with the same helpers from its header line: a file,
    * or a directory (e.g. a `Sinks.csvSingle` output) whose only visible
    * entry is a file. None otherwise — with several files Spark takes the
    * header from the first file by split size, which only its own
    * inference reproduces — and for a glob, a missing path or an empty
    * file, which Spark's reader then handles and reports itself. */
  private def oneFile(spark: SparkSession, path: String): Option[(Path, StructType)] = {
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
        val csv = csvOptions(spark)
        for {
          line <- CSVUtils.readHeaderLine(f.getPath, csv, conf)
          tokens <- Option(new CsvParser(csv.asParserSettings).parseLine(line))
        } yield {
          val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
          f.getPath -> StructType(CSVUtils.makeSafeHeader(tokens, caseSensitive, csv)
            .map(StructField(_, StringType)))
        }
      case _ => None
    }
  }

  /** Normalize an in-memory or loaded frame to the canonical column set;
    * missing control columns materialize as nulls so downstream expressions
    * never need existence checks. */
  def normalize(df: DataFrame): DataFrame = normalize(df, Model.fieldMapColumns)

  private def normalize(df: DataFrame, columns: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    df.select(columns.map { c =>
      if (present(c)) col(s"`$c`") else lit(null).cast("string").as(c)
    }: _*)
  }
}
