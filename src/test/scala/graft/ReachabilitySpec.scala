package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every public `def` under `src/main` is reached, or kept for a stated rule.
  * The check is a name grep over `src/main/scala` and
  * `perfbench/src/main/scala` with comments stripped: a non-private,
  * non-override `def` whose name occurs nowhere but its own definition has
  * no caller there. Such a def must be deleted or listed below with the rule
  * that keeps it, as ConfInventorySpec does for conf keys.
  *
  * Limits: the grep is one level deep (deleting a caller can orphan its
  * callees, which the next run lists); a name shared by two defs hides both;
  * and it cannot see what Spark's planner reaches through DSv2 capabilities
  * (those are overrides) — EtlJobSpec pins the `graft-eav` pushdowns the
  * paper's pipeline uses. */
class ReachabilitySpec extends AnyFunSuite {
  private val keep: Map[String, String] = Map(
    // roots: called from outside the scanned sources
    "SparkEntry.entry" -> "the flagship entry point the driver calls by name",
    "Bridge.registerExtensionFunctions" -> "applies GraftExtensions' SQL functions to a live session",
    "FieldMap.compiled" -> "implicit DataFrame => Rules conversion scalac inserts (q32, q33, q36)",
    // SURVEY.md S-rows the reference implements
    "Sinks.ndjson" -> "S-row: NDJSON file sink",
    "Sinks.keyedJson" -> "S-row: keyed JSON sink",
    "Sinks.envelopesSequential" -> "S-row: the reference's sequential envelope loop",
    // references a spec checks reached code against
    "Dedup.simhashSignatures" -> "expression reference for simhashSignaturesKernel",
    "TextAnalysis.importanceRatios" -> "batch reference for the importance-score stream face",
    // COVERAGE §2.10 stream faces, each with a stream ≡ batch spec
    "DocumentStreams.importanceScoreStream" -> "§2.10 stream face of the importance scores",
    "DocumentStreams.ingestBatchComponents" -> "§2.10 stream face of connected components",
    "EventStreams.tumblingCounts" -> "§2.10 stream face of the tumbling-window counts",
    "EventStreams.rateLimitStream" -> "§2.10 stream face of Sampling.rateLimit",
    "EventStreams.asofEnrichStream" -> "§2.10 stream face of the as-of join",
    "EventStreams.cdcSnapshotStream" -> "§2.10 stream face of the CDC snapshot",
    "EventStreams.abTestStream" -> "§2.10 stream face of the A/B test aggregates",
    "EventStreams.aggViewStream" -> "§2.10 stream face of the aggregate view",
    "EventStreams.ewmaView" -> "§2.10 stream face of the EWMA",
    "StateStores.withRocksDB" -> "§2.10 state-store switch the stream specs run under")

  private val roots = Seq("src/main/scala", "perfbench/src/main/scala")

  /** (file, source with comments blanked, line breaks kept) per file. */
  private lazy val sources: Seq[(java.io.File, String)] = roots.flatMap { r =>
    val root = new java.io.File(r)
    assert(root.isDirectory, s"run from the repository root: no ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(root).map { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val noBlocks = "(?s)/\\*.*?\\*/".r.replaceAllIn(src,
        m => "\n" * m.matched.count(_ == '\n'))
      f -> "//[^\n]*".r.replaceAllIn(noBlocks, "")
    }
  }

  /** `File.name` of every unreferenced public def under `src/main`. */
  private def orphans: Seq[String] = {
    val defRe = "(?m)^[ \\t]*((?:[a-z]+(?:\\[\\w+\\])?\\s+)*)def\\s+([A-Za-z_]\\w*)".r
    // occurrences of each whole word, definitions included
    val words = sources.flatMap { case (_, s) => "\\w+".r.findAllIn(s) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    for {
      (f, src) <- sources if f.getPath.startsWith("src/main")
      m <- defRe.findAllMatchIn(src).toSeq
      mods = m.group(1) if !mods.contains("private") && !mods.contains("override")
      if words(m.group(2)) <= 1
    } yield s"${f.getName.stripSuffix(".scala")}.${m.group(2)}"
  }

  test("every public def under src/main has a caller, or a keep rule") {
    val found = orphans.toSet
    val unlisted = found -- keep.keySet
    val stale = keep.keySet -- found
    assert(unlisted.isEmpty, s"defs nothing calls, not kept: ${unlisted.toSeq.sorted}")
    assert(stale.isEmpty, s"kept defs that now have a caller or are gone: $stale")
    assert(keep.values.forall(_.nonEmpty))
  }
}
