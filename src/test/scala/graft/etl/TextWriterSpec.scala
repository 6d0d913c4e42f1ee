package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `Sinks.writeText`'s contract, with faults injected: what a failed task,
  * a failed attempt's leftover file and an empty partition do to the
  * output, and byte parity with Spark's text writer. */
class TextWriterSpec extends SparkSpec {
  import spark.implicits._

  /** A fresh parent directory per case, so its listing shows every
    * staging or commit directory the writer leaves behind. */
  private def parent(): Path = Files.createTempDirectory("textwriter")

  private def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  /** Every file under `dir` by name, with its bytes. */
  private def contents(dir: Path): Map[String, Seq[Byte]] =
    names(dir).map(n => n -> Files.readAllBytes(dir.resolve(n)).toSeq).toMap

  /** The partition number in a part file's name (`part-00003-…`). */
  private def partition(name: String): Int = name.stripPrefix("part-").takeWhile(_ != '-').toInt

  test("publish moves only the named files: a failed attempt's file in the " +
      "staging directory is not published") {
    val p = parent()
    val staging = Files.createDirectory(p.resolve(".staging"))
    Files.writeString(staging.resolve("part-00000-3.txt"), "failed attempt\n")
    Files.writeString(staging.resolve("part-00000-7.txt"), "a\n")
    Files.writeString(staging.resolve("part-00001-8.txt"), "b\n")
    val out = p.resolve("out")
    Sinks.publish(staging, Seq("part-00000-7.txt", "part-00001-8.txt"), out)
    assert(names(out) == Set("part-00000-7.txt", "part-00001-8.txt", "_SUCCESS"))
    assert(Files.readString(out.resolve("part-00000-7.txt")) == "a\n")
    assert(names(staging) == Set("part-00000-3.txt"))
    assert(names(p) == Set(".staging", "out"))
  }

  test("a write whose task throws leaves the previous output byte-identical " +
      "and no staging directory behind") {
    val p = parent()
    val out = p.resolve("out")
    Sinks.writeText(Seq("old 1", "old 2", "old 3").toDS().repartition(2), out)
    val before = contents(out)
    val failing = spark.range(0, 6, 1, 2).map { i =>
      if (i == 4) throw new IllegalStateException("injected write failure")
      s"new $i"
    }
    val e = intercept[Exception](Sinks.writeText(failing, out))
    assert(e.getMessage.contains("injected write failure"), e.getMessage)
    assert(contents(out) == before)
    assert(names(p) == Set("out"))
  }

  test("an empty partition writes no file; a successful write ends with " +
      "_SUCCESS and replaces every file of the previous output") {
    val p = parent()
    val out = p.resolve("out")
    Sinks.writeText(spark.range(0, 8, 1, 8).map(i => s"old $i"), out)
    assert(names(out).size == 9 && names(out)("_SUCCESS"))
    // partitions 0 and 2 of 4 hold a line each; 1 and 3 are empty
    Sinks.writeText(spark.range(0, 4, 1, 4).filter(_ % 2 == 0).map(i => s"new $i"), out)
    val written = names(out) - "_SUCCESS"
    assert(names(out)("_SUCCESS"))
    assert(written.map(partition) == Set(0, 2), written)
    assert(written.forall(n => n.matches("part-\\d{5}-\\d+\\.txt")), written)
    assert(written.toSeq.sorted.map(n => Files.readString(out.resolve(n))) == Seq("new 0\n", "new 2\n"))
    // no partition holds a line: only _SUCCESS
    Sinks.writeText(spark.range(0, 4, 1, 2).filter(_ < 0).map(_.toString), out)
    assert(names(out) == Set("_SUCCESS"))
    assert(names(p) == Set("out"))
  }

  test("each partition's file holds the bytes Spark's text writer writes " +
      "for it, multi-byte UTF-8, empty and null lines included") {
    val lines = Seq("{\"a\":1}", "café", "Zürich", "🍕 pizza", "日本語", "", null,
      "tab\there", "\uD83D", "last")
    val ds = lines.toDS().repartition(3)
    val p = parent()
    Sinks.writeText(ds, p.resolve("ours"))
    ds.toDF("value").write.text(p.resolve("spark").toString)
    def byPartition(dir: Path): Map[Int, Seq[Byte]] = contents(dir)
      .collect { case (n, b) if n.startsWith("part-") && n.endsWith(".txt") => partition(n) -> b }
    val ours = byPartition(p.resolve("ours"))
    assert(ours.size == 3)
    assert(ours == byPartition(p.resolve("spark")))
    assert(spark.read.text(p.resolve("ours").toString).as[String].collect().sorted.toSeq ==
      spark.read.text(p.resolve("spark").toString).as[String].collect().sorted.toSeq)
  }

  test("each task's output metrics count the lines and bytes its file holds") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val records, bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        records.addAndGet(m.outputMetrics.recordsWritten)
        bytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
    val out = parent().resolve("out")
    spark.sparkContext.addSparkListener(listener)
    // jobsOf drains the listener bus, so every task end has been seen
    try jobsOf(Sinks.writeText(Seq("a", "é", "🍕", "").toDS().repartition(2), out))
    finally spark.sparkContext.removeSparkListener(listener)
    assert(records.get == 4)
    assert(bytes.get == contents(out).values.map(_.length).sum)
    assert(bytes.get == 1 + 2 + 4 + 0 + 4)
  }

  test("a file or a link where the output directory goes is refused before " +
      "any job, and left in place") {
    val p = parent()
    val file = p.resolve("file")
    Files.writeString(file, "keep")
    val link = Files.createSymbolicLink(p.resolve("link"), p.resolve("missing"))
    for (target <- Seq(file, link)) {
      var e: Exception = null
      assert(jobsOf { e = intercept[java.nio.file.FileAlreadyExistsException](
        Sinks.writeText(Seq("x").toDS(), target)) } == 0)
      assert(e.getMessage.contains(target.toString), e.getMessage)
    }
    assert(Files.readString(file) == "keep" && Files.isSymbolicLink(link))
    assert(names(p) == Set("file", "link"))
  }
}
