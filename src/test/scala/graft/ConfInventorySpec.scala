package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.*` session conf the engine reads, each with the reason it
  * exists. A knob added to or removed from `src/main` must update this list
  * in the same change — a conf that only picks between two code paths is a
  * fork to measure and delete, not a setting to keep. */
class ConfInventorySpec extends AnyFunSuite {
  private val inventory: Map[String, String] = Map(
    // caps and guards: loud failure instead of an unbounded collect or blow-up
    "graft.ann.maxProbe" -> "cap on the ANN query probes one collect may return",
    "graft.ann.maxCorpusCollect" -> "cap on the corpus vectors one collect may return",
    "graft.semdedup.maxClusterSize" -> "guard on the per-cluster pair cross in semantic dedup",
    "graft.semdedup.centroidsPerSqrtN" -> "sizes semanticDedupAuto's centroid count (k = mult * sqrt(n))",
    "graft.bpe.maxBaseVocab" -> "cap on the collected BPE base vocabulary (codepoint symbols)",
    "graft.embeddings.maxLabels" -> "guard on the k x k label-centroid pair cross",
    "graft.mining.maxBasketSize" -> "guard on basket size before itemset pair expansion",
    "graft.graph.maxDegree" -> "guard on node degree before adjacency expansion",
    "graft.editdist.maxVocab" -> "guard on the vocabulary of the edit-distance self cross",
    // broadcast escape hatches: drop the hint when the small side is not small
    "graft.dsir.broadcastRatios" -> "broadcast hint on the DSIR ratio table",
    "graft.nb.broadcastModel" -> "broadcast hint on the naive-Bayes model table",
    // diagnostics and opt-ins
    "graft.graph.debugCanonical" -> "verifies the caller's canonical-edges assertion (debug only)",
    "graft.rangeJoin.bucketWidth" -> "opt-in bucket width for the range-join rewrite rule")

  private def mainSources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: no ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(root)
  }

  test("every graft.* conf key read under src/main is listed with a reason") {
    val key = "\"(graft(?:\\.[A-Za-z0-9_]+)+)\"".r
    val found = mainSources.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      key.findAllMatchIn(src).map(_.group(1))
    }.toSet
    val unlisted = found -- inventory.keySet
    val stale = inventory.keySet -- found
    assert(unlisted.isEmpty, s"conf keys read but not inventoried: $unlisted")
    assert(stale.isEmpty, s"inventoried conf keys no longer read: $stale")
    assert(inventory.values.forall(_.nonEmpty))
  }
}
