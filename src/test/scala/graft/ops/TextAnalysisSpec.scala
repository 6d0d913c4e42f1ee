package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token count: whitespace splitting, blank → 0") {
    val df = Seq("one two  three", "", "   ", "single").toDF("text")
    val out = df.select(TextAnalysis.tokenCount($"text")).as[Int].collect().toSeq
    assert(out == Seq(3, 0, 0, 1))
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      "the cat and the dog of the house is in a tree",
      "der hund und die katze ist nicht ein vogel zu hause",
      "el perro y la casa de los gatos que es un animal",
      "zzz qqq www").toDF("text")
    val out = df.select(TextAnalysis.langId($"text")).as[String].collect().toSeq
    assert(out == Seq("en", "de", "es", "und"))
  }

  test("quality score favors normal prose over noise") {
    val good = "the quick brown fox jumps over the lazy dog and that is a fine thing to see in the morning"
    val noisy = "!!!! 1234 5678 ???? .... 9999 0000 ;;;; 1111 2222"
    val df = Seq(good, noisy).toDF("text")
    val out = df.select(TextAnalysis.qualityScore($"text")).as[Double].collect()
    assert(out(0) > out(1))
    assert(out(0) > 0.7 && out(1) < 0.3)
  }

  test("repetitionSignals: counts, top fractions, single-token doc") {
    val df = Seq(
      (1L, "spam spam spam ham"),     // 4 tokens, 2 types, top=3/4
      (2L, "all words are different"),
      (3L, "one")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df)
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 2L, 0.75, 0.5, 2.0 / 3)))  // top bigram "spam spam" 2 of 3
    assert(out(2L) == ((2L, 4L, 4L, 0.25, 0.0, 1.0 / 3)))
    assert(out(3L) == ((3L, 1L, 1L, 1.0, 0.0, 0.0)))       // no bigram → 0.0
  }

  test("commonNgramStats: shared 3-grams counted against document frequency") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),  // shingles: {a b g, b g d}
      (2L, "alpha beta gamma other"),  // shares "alpha beta gamma"
      (3L, "totally unrelated words here")).toDF("doc_id", "text")
    val out = TextAnalysis.commonNgramStats(df, minDf = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 0.5)))
    assert(out(2L) == ((2L, 2L, 0.5)))
    assert(out(3L) == ((3L, 2L, 0.0)))
  }

  test("commonNgramStats: clone pre-stage ≡ per-doc semantics (clones weight df)") {
    // 4 & 5 are clones of 1 modulo case/whitespace (same normalized content)
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (4L, "ALPHA  beta gamma delta"),
      (5L, "alpha beta gamma delta "),
      (2L, "alpha beta gamma other"), // shares "alpha beta gamma" (df=4 ≥ 2)
      (3L, "totally unrelated words here")).toDF("doc_id", "text")
    val out = TextAnalysis.commonNgramStats(df, minDf = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // clone group {1,4,5}: both shingles in ≥3 docs → all common
    for (id <- Seq(1L, 4L, 5L)) assert(out(id) == ((id, 2L, 1.0)), out(id))
    assert(out(2L) == ((2L, 2L, 0.5)))
    assert(out(3L) == ((3L, 2L, 0.0)))
    assert(out.size == 5)
  }

  test("distinctiveTerms: clone pre-stage ≡ per-doc tf/df semantics") {
    // 1 and 4 are clones; their terms' df must count BOTH docs
    val df = Seq(
      (1L, "apple banana apple cherry"),
      (4L, "apple  BANANA apple cherry"), // same normalized content as 1
      (2L, "banana cherry banana date"),
      (3L, "unique words only appear here")).toDF("doc_id", "text")
    val out = TextAnalysis.distinctiveTerms(df, topK = 2)
      .as[(Long, String, Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._5).toSeq).toMap
    assert(out(1L) == out(4L).map(r => r.copy(_1 = 1L))) // clones rank identically
    // apple: tf=2, df=2 (both clones) → score 1e6; cherry tf=1 df=3
    assert(out(1L).head._2 == "apple" && out(1L).head._4 == 2L)
    // date: tf=1/df=1 → 1e6 outranks banana 2e6/3; banana's df counts docs 1,4,2
    assert(out(2L).head._2 == "date" && out(2L).head._4 == 1L)
    assert(out(2L)(1)._2 == "banana" && out(2L)(1)._4 == 3L)
    assert(out(3L).map(_._2).toSet.subsetOf(Set("unique", "words", "only", "appear", "here")))
  }

  test("chunkTokens: window layout, truncation, blank docs, fingerprints") {
    val words250 = (0 until 250).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, words250),
      (2L, "just five little words here"),
      (3L, "   "),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(df, window = 100, overlap = 20)
      .as[(Long, Int, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // 250 tokens, step 80 → starts 0/80/160, last truncated to 90
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((0, 0L, 100L), (1, 80L, 100L), (2, 160L, 90L)))
    assert(out.filter(_._1 == 2L).map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((0, 0L, 5L)))
    assert(!out.exists(r => r._1 == 3L || r._1 == 4L))
    // chunk_fp is the rolling hash of the rejoined raw window
    val expFp = graft.functions.RollingFingerprint.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        (80 until 180).map(i => s"w$i").mkString(" ")))
    assert(out.find(r => r._1 == 1L && r._2 == 1).get._5 == expFp)
  }

  test("splitLabel: content-keyed, partition-order invariant, covers all labels") {
    val docs = (0 until 200).map(i => (i.toLong, s"document number $i with some text")).toDF("doc_id", "text")
    val a = docs.select($"doc_id", TextAnalysis.splitLabel($"text").as("s"))
      .as[(Long, String)].collect().toMap
    val b = docs.repartition(7).select($"doc_id", TextAnalysis.splitLabel($"text").as("s"))
      .as[(Long, String)].collect().toMap
    assert(a == b) // assignment independent of partitioning
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // identical content → identical split, regardless of id
    val dup = Seq((1L, "same text"), (2L, "same text")).toDF("doc_id", "text")
      .select(TextAnalysis.splitLabel($"text")).as[String].collect()
    assert(dup(0) == dup(1))
  }

  test("scrubPii: redacts emails, urls, long digit runs; counts on raw text") {
    val df = Seq(
      (1L, "contact me at jo.doe+x@example.co.uk or https://ex.am/p?q=1 ref 123456789012"),
      (2L, "clean text with short 1234 digits")).toDF("doc_id", "text")
    val out = df.select($"doc_id" +: TextAnalysis.scrubPii($"text").as("s") +:
        TextAnalysis.piiCounts($"text").map { case (n, c) => c.as(n) }: _*)
      .as[(Long, String, Int, Int, Int)].collect().sortBy(_._1)
    assert(out(0)._2 == "contact me at <EMAIL> or <URL> ref <ID>")
    assert((out(0)._3, out(0)._4, out(0)._5) == ((1, 1, 1)))
    assert(out(1)._2 == "clean text with short 1234 digits") // untouched
    assert((out(1)._3, out(1)._4, out(1)._5) == ((0, 0, 0)))
  }

  test("bigramNll: predictable bigrams score low, rare transitions high, " +
      "short docs drop out") {
    // "a b" repeated → P(b|a)=1 inside those docs; the shuffled doc uses
    // transitions that appear once → higher NLL
    val df = Seq(
      (1L, "a b a b a b a b"),
      (2L, "a b a b a b a b"),
      (3L, "b b a a b a a b"),
      (4L, "x"), // single token: no bigrams, must drop out
      (5L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(df).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("avg_nll")).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == out(2L)) // identical docs, identical scores
    assert(out(3L) > out(1L), s"rare transitions must score higher: $out")
  }

  test("fingerprint: deterministic, normalization-invariant, content-sensitive") {
    val df = Seq(
      ("a", "Hello World Foo"),
      ("b", "  hello   world foo "),
      ("c", "hello world bar")).toDF("id", "text")
    val m = df.select($"id", TextAnalysis.fingerprint($"text")).as[(String, Long)]
      .collect().toMap
    assert(m("a") == m("b"))
    assert(m("a") != m("c"))
    assert(m.values.forall(v => v >= 0 && v < (1L << 53)))
  }

  test("classTfidf: class-exclusive term outranks the everywhere-term") {
    val df = Seq(
      (1L, "sci", "quantum physics shared shared"),
      (2L, "sci", "quantum theory shared"),
      (3L, "biz", "market finance shared shared"),
      (4L, "biz", "market growth shared")).toDF("doc_id", "source", "text")
    val top = TextAnalysis.classTfidf(df, "source", topK = 2)
      .select($"class", $"term", $"rn").as[(String, String, Int)]
      .collect().groupBy(_._1).map { case (c, xs) =>
        c -> xs.sortBy(_._3).map(_._2).toSeq }
    // 'shared' has the same tf as the exclusive terms but a 2x corpus
    // frequency, so the exclusive term must rank first in both classes
    assert(top("sci").head == "quantum", s"got $top")
    assert(top("biz").head == "market")
    assert(!top("sci").contains("market") && !top("biz").contains("quantum"))
  }

  test("pmiPairs: planted collocation outranks independent pairs; minCount prunes") {
    // 'aa bb' always adjacent (8x); 'xx' pairs with varied successors
    val rows = (1L to 8L).map(i => (i, s"aa bb xx s$i")) :+
      (9L, "rare pair")
    val out = TextAnalysis.pmiPairs(rows.toDF("doc_id", "text"), minCount = 5,
        topK = 10).as[(String, String, Long, Long)].collect()
    assert(out.head._1 == "aa" && out.head._2 == "bb",
      s"perfect collocation must rank first: ${out.toSeq}")
    assert(!out.exists(p => p._1 == "rare"), "n12 < minCount must be pruned")
    assert(out.forall(_._3 >= 5))
  }

  test("skipgramCooc: exact pairs/weights per distance; short docs survive") {
    val rows = Seq((1L, "a b c d"), (2L, "x"), (3L, "y z")).toDF("doc_id", "text")
    val got = TextAnalysis.skipgramCooc(rows, window = 3, topK = 100)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // distance 1 → w6 1000000; distance 2 → 500000; distance 3 → 333333
    assert(got(("a", "b")) == ((1L, 1000000L)))
    assert(got(("b", "c")) == ((1L, 1000000L)))
    assert(got(("c", "d")) == ((1L, 1000000L)))
    assert(got(("a", "c")) == ((1L, 500000L)))
    assert(got(("b", "d")) == ((1L, 500000L)))
    assert(got(("a", "d")) == ((1L, 333333L)))
    assert(got(("y", "z")) == ((1L, 1000000L)))
    // ordered pairs only — no reversed duplicates; single-token doc silent
    assert(!got.contains(("b", "a")) && !got.keys.exists(_._1 == "x"))
    assert(got.size == 7)
  }

  test("readability: hand-computed Flesch inputs — vowel runs, sentence " +
      "floor at 1, NULL score on wordless text") {
    val df = Seq(
      (1L, "the cat sat."),          // 3 words, y-less: 2+1+1? runs below
      (2L, "hello there. how are you?"),
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id") +:
        TextAnalysis.readability(col("text")).map { case (n, c) => c.as(n) }: _*)
      .orderBy(col("doc_id")).collect()
    // "the cat sat." → vowel runs: e, a, a = 3; sentences: 1; words: 3
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 3L &&
      out(0).getLong(3) == 1L)
    // flesch = 206.835 − 1.015·3 − 84.6·1 = 119.19 → 119190
    assert(out(0).getLong(4) == math.floor(
      (206.835 - 1.015 * 3 - 84.6 * 1) * 1e3).toLong)
    // "hello there. how are you?" → 5 words, 2 sentence runs,
    // vowel runs: e,o / e,e / o / a,e / ou = 8
    assert(out(1).getLong(1) == 5L && out(1).getLong(2) == 8L &&
      out(1).getLong(3) == 2L)
    // empty and NULL text: 0 words, sentence floor 1, NULL score
    assert(out(2).getLong(1) == 0L && out(2).getLong(3) == 1L &&
      out(2).isNullAt(4))
    assert(out(3).getLong(1) == 0L && out(3).isNullAt(4))
  }

  test("importanceWeights: hand-computed add-1 smoothed log-ratios; " +
      "target-like docs score above off-domain docs; empty target raises") {
    // raw = {"a a a", "b b b"}, target = {"a a a"}: V=2,
    // lr(a) = floor(1e6·ln(4/5)) − floor(1e6·ln(4/8)) = −223144+693148
    // lr(b) = floor(1e6·ln(1/5)) − floor(1e6·ln(4/8)) = −1609438+693148
    val raw = Seq((1L, "a a a"), (2L, "b b b")).toDF("doc_id", "text")
    val got = TextAnalysis
      .importanceWeights(raw, raw.filter($"doc_id" === 1L))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 3L * 470004L), (2L, 3L, 3L * -916290L)))
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.importanceWeights(raw, raw.filter($"doc_id" === 99L))
        .collect()
    }
    assert(err.getMessage.contains("non-empty target"))
    // unbounded-vocab escape hatch: with graft.dsir.broadcastRatios=false
    // the forced broadcast hint is dropped (AQE picks the join) and the
    // scores are bit-identical
    spark.conf.set("graft.dsir.broadcastRatios", "false")
    try {
      val unhinted = TextAnalysis
        .importanceWeights(raw, raw.filter($"doc_id" === 1L))
        .as[(Long, Long, Long)].collect().toSet
      assert(unhinted == got)
    } finally spark.conf.unset("graft.dsir.broadcastRatios")
  }

  test("bpeTokenIds: a symbol outside the vocabulary is a named error, " +
      "not token id 0") {
    val ids = TextAnalysis.symbolIds(Array("a", "b"), Array(("a", "b")))
    assert(ids(Array("ab", "a", "b")) == Seq(2L, 0L, 1L))
    val e = intercept[IllegalStateException](ids(Array("a", "c")))
    assert(e.getMessage.contains("symbol 'c' missing from the vocabulary map"))
  }

  test("bpeTokenIds: id sequences ≡ independent in-test replay under the " +
      "pinned vocab contract; re-fused strings keep their FIRST id; " +
      "non-BMP codepoints are single base symbols") {
    // corpus with a supplementary char (U+1D49C) and a re-fusion: merge 5
    // re-creates 'ta' (already id'd by merge 1) — first id must win
    val docs = Seq((1L, "tan tab 𝒜a"), (2L, "rat tan"),
      (3L, null.asInstanceOf[String]), (4L, ""))
      .toDF("doc_id", "text")
    val merges = Seq((1L, "t", "a"), (2L, "ta", "n"), (3L, "r", "a"),
      (4L, "ta", "b"), (5L, "t", "a"))
      .toDF("round", "lhs", "rhs")
    val got = TextAnalysis.bpeTokenIds(docs, merges)
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    // independent replay: base syms = sorted distinct codepoints of the
    // corpus words; merge ids = B + round - 1, first fusion wins
    val words = Seq("tan", "tab", "𝒜a", "rat")
    val base = words.flatMap(w => w.codePoints().toArray.toSeq)
      .map(cp => new String(Character.toChars(cp))).distinct
      .sortBy(s => s.getBytes("UTF-8").map(_ & 0xff).toSeq
        .map(i => f"$i%03d").mkString)
    val mergeSeq = Seq(("t", "a"), ("ta", "n"), ("r", "a"), ("ta", "b"),
      ("t", "a"))
    val vid = scala.collection.mutable.LinkedHashMap[String, Long]()
    base.zipWithIndex.foreach { case (s, i) => vid(s) = i.toLong }
    mergeSeq.zipWithIndex.foreach { case ((l, r), i) =>
      if (!vid.contains(l + r)) vid(l + r) = base.length.toLong + i }
    def seg(w: String): Seq[Long] = {
      var syms = w.codePoints().toArray.toSeq
        .map(cp => new String(Character.toChars(cp)))
      mergeSeq.foreach { case (l, r) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toSeq
      }
      syms.map(vid)
    }
    val expected = Seq(
      (1L, "tan tab 𝒜a"), (2L, "rat tan")).map { case (id, t) =>
      val ids = t.split(" ").toSeq.flatMap(seg)
      (id, ids.length.toLong, ids)
    }
    assert(got == expected, s"got $got\nexpected $expected")
    // the re-fused 'ta' really did keep id B+0 (merge 1), and the
    // supplementary char is one symbol, not two surrogates
    assert(vid("ta") == base.length.toLong)
    assert(base.contains("𝒜"))
  }

  test("bpeTrain: hand-computed merge sequence with frequency weighting, " +
      "deterministic tie-break, early stop when no pairs remain") {
    // words: aa x1, ab x2 → round 1 best (a,b) n=2; merging collapses ab
    // to one symbol, so round 2 best is (a,a) n=1; round 3 finds nothing
    val docs = Seq("aa ab", "ab").toDF("text")
    val got = TextAnalysis.bpeTrain(docs, merges = 5)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", "b", 2L), (2L, "a", "a", 1L)), s"got $got")
  }

  test("bpeTrain: greedy left-to-right on same-symbol runs — 'aaa' under " +
      "(a,a) yields [aa, a], and merged symbols pair up in later rounds") {
    // aaaa: r1 (a,a) n=3 → [aa, aa]; r2 (aa,aa) n=1 → [aaaa]; stop
    val docs = Seq("aaaa").toDF("text")
    val got = TextAnalysis.bpeTrain(docs, merges = 4)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)), s"got $got")

    // layout invariance: the trainer's merges are partition-independent
    val corpus = Seq("the cat", "the hat", "the bat", "cab").toDF("text")
    val a = TextAnalysis.bpeTrain(corpus, merges = 3)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    val b = TextAnalysis.bpeTrain(corpus.repartition(7), merges = 3)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(a == b && a.size == 3)
  }

  /** In-memory reference BPE trainer: the textbook algorithm, written
    * independently of the distributed formulation (explicit pair-count
    * map, explicit greedy left-to-right merge) — property-checks the
    * operator on tie-heavy tiny-alphabet corpora where same-symbol runs
    * and count ties are the norm, not the edge case. */
  private def bpeRef(texts: Seq[String], merges: Int)
      : Seq[(Long, String, String, Long)] = {
    val words0 = texts
      .flatMap(_.trim.toLowerCase.split("\\s+").filter(_.length >= 2))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    var words: Map[Vector[String], Long] =
      words0.groupBy { case (w, _) => w.map(_.toString).toVector }
        .map { case (syms, m) => syms -> m.values.sum }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var round = 1L
    var done = false
    while (round <= merges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), n) = counts.toSeq
          .minBy { case ((pl, pr), pn) => (-pn, pl, pr) }
        out += ((round, l, r, n))
        words = words.toSeq.map { case (syms, f) =>
          val m = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              m += (l + r); i += 2
            } else { m += syms(i); i += 1 }
          }
          m.result() -> f
        }.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
        round += 1
      }
    }
    out.toSeq
  }

  /** [[TextAnalysis.bpeTrain]] forced onto the distributed tier. */
  private def bpeDistributed(corpus: org.apache.spark.sql.DataFrame,
      merges: Int, batchTopK: Int = 64): Seq[(Long, String, String, Long)] =
    TextAnalysis.bpeTrain(corpus, merges, "text", localVocabMax = 0L,
      batchTopK = batchTopK).as[(Long, String, String, Long)].collect().toSeq

  test("bpeTrain: local tier ≡ distributed tier on the same corpus " +
      "(localVocabMax = 0 forces the distributed loop)") {
    val corpus = Seq("the cat sat", "the hat", "a bat sat", "cab cab",
      "aaaa abab", "the the the").toDF("text")
    val local = TextAnalysis.bpeTrain(corpus, merges = 6)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    val dist = bpeDistributed(corpus, merges = 6).sortBy(_._1)
    assert(local == dist, s"\nlocal $local\ndist  $dist")
    assert(local.nonEmpty)
  }

  test("bpeTrain distributed tier: BATCHED merge selection ≡ sequential " +
      "≡ in-JVM on tie-heavy and overlap-heavy corpora (the cases the " +
      "disjoint-prefix trim must refuse to batch)") {
    // overlap-heavy: top pairs chain (t,h)(h,e); tie-heavy: equal counts
    // on shared symbols; plus same-symbol runs and a clean disjoint tail
    val corpora = Seq(
      Seq("the the the then them", "he she thee", "aaaa abab"),
      Seq("ab ab ab", "bc bc bc", "cd cd cd", "de de de"), // equal-count chain
      Seq("xy xy pq pq mn mn", "uv uv uv"), // fully disjoint: batches big
      Seq("zzzz zzz zz", "zz zz")) // same-symbol runs
    for (corpus0 <- corpora) {
      val corpus = corpus0.toDF("text")
      val reference = TextAnalysis.bpeTrain(corpus, merges = 8)
        .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
      for (topK <- Seq(1, 3, 64)) {
        val got = bpeDistributed(corpus, merges = 8, batchTopK = topK)
          .sortBy(_._1)
        assert(got == reference,
          s"batchTopK=$topK on $corpus0:\nref $reference\ngot $got")
      }
    }
  }

  test("bpeTrain seeds symbols per CODEPOINT: supplementary chars stay " +
      "whole (no lone surrogates), both tiers") {
    // 🍕 (U+1F355) is 2 UTF-16 code units; a code-unit split would shear
    // it into unpaired surrogates and merge those instead
    val corpus = Seq("x🍕y x🍕y", "🍕🍕").toDF("text")
    for (forceDist <- Seq(false, true)) {
      val got =
        if (forceDist) bpeDistributed(corpus, merges = 1)
        else TextAnalysis.bpeTrain(corpus, merges = 1)
          .as[(Long, String, String, Long)].collect().toSeq
      // best pair: (x,🍕) n=2 — ties (🍕,y) n=2 and (🍕,🍕) n=1 lose on
      // UTF-8 order (x < 🍕)
      // a code-unit split would instead merge lone-surrogate symbols
      // (\uD83C,\uDF55) — the exact-match assertion rules that out
      assert(got == Seq((1L, "x", "🍕", 2L)), s"forceDist=$forceDist got $got")
    }
  }

  test("bpeTrain ≡ independent in-memory reference on tie-heavy " +
      "tiny-alphabet corpora (same-symbol runs, count ties, re-merges)") {
    val rng = new scala.util.Random(31)
    val alphabet = "aab" // duplicates load the dice toward runs and ties
    def word(): String =
      Seq.fill(2 + rng.nextInt(6))(alphabet(rng.nextInt(alphabet.length))).mkString
    for (trial <- 1 to 5) {
      val texts = Seq.fill(4)(Seq.fill(3 + rng.nextInt(4))(word()).mkString(" "))
      val got = TextAnalysis.bpeTrain(texts.toDF("text"), merges = 4)
        .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
      val want = bpeRef(texts, merges = 4)
      assert(got == want, s"trial $trial on $texts:\n got $got\nwant $want")
    }
  }

  test("segmentLocal: ordered replay, merge consuming a prior merge's " +
      "output, substring skip is exact, non-BMP codepoint symbols") {
    val m = Array(("i", "n"), ("in", "e"))
    // "line": l i n e -> l in e -> l ine = 2 tokens; order matters —
    // reversed table never forms "ine" (3 tokens)
    assert(TextAnalysis.segmentLocal("line", m) == 2)
    assert(TextAnalysis.segmentLocal("line", m.reverse) == 3)
    // "nine": n i n e -> (i,n): n in e -> (in,e): n ine = 2 tokens —
    // the substring skip never skips a live merge (any adjacent (l,r)
    // makes l+r a contiguous substring of the original word)
    assert(TextAnalysis.segmentLocal("nine", m) == 2)
    // single-char and no-hit words pass through untouched
    assert(TextAnalysis.segmentLocal("x", m) == 1)
    assert(TextAnalysis.segmentLocal("zzz", m) == 3)
    // supplementary chars are one symbol each, never surrogate halves
    val emoji = new String(Character.toChars(0x1F600))
    assert(TextAnalysis.segmentLocal(emoji + "a" + emoji,
      Array((emoji, "a"))) == 2)
  }

  test("bpeSegmentCounts: train→apply composition ≡ in-JVM replay; " +
      "no-word docs absent; null merge raises") {
    val texts = Seq((1L, "tab data tan"), (2L, "line nine in"),
      (3L, "  "), (4L, null.asInstanceOf[String]))
    val docs = texts.toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, merges = 4)
    val mergeArr = merges.orderBy("round")
      .select("lhs", "rhs").as[(String, String)].collect()
    val got = TextAnalysis.bpeSegmentCounts(docs, merges)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val want = texts.collect { case (id, t) if t != null && t.trim.nonEmpty =>
      val ws = t.trim.toLowerCase.split("\\s+").toSeq
      id -> (ws.size.toLong,
        ws.map(w => TextAnalysis.segmentLocal(w, mergeArr).toLong).sum)
    }.toMap
    assert(got == want, s"got $got want $want")

    val bad = Seq((1L, "x", null.asInstanceOf[String])).toDF("round", "lhs", "rhs")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeSegmentCounts(docs, bad)
    }
    assert(e.getMessage.contains("null lhs/rhs"))
  }

  /** Local replica of zipfFit: counts → spectrum → doubled midpoint ranks
    * → ·1e6 ln quantization → trendFit's exact-sum double tree. */
  private def localZipf(tokens: Seq[String]): (Long, Double, Double) = {
    val counts = tokens.groupBy(identity).map { case (_, xs) => xs.size.toLong }
    val spectrum = counts.groupBy(identity).map { case (n, ks) => (n, ks.size.toLong) }
      .toSeq.sortBy(-_._1)
    var prefix = 0L
    val pts = spectrum.map { case (n, k) =>
      val r2 = 2 * prefix + k + 1
      prefix += k
      (math.floor(math.log(r2.toDouble / 2.0) * 1e6).toLong,
        math.floor(math.log(n.toDouble) * 1e6).toLong)
    }
    val np = pts.size.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum; val sxx = pts.map(p => p._1 * p._1).sum
    val num = np * sxy - sx * sy; val den = np * sxx - sx * sx
    val slope = num.toDouble / den.toDouble
    (np, slope, (sy.toDouble - slope * sx.toDouble) / np.toDouble)
  }

  test("zipfFit ≡ local replica (tie-averaged doubled ranks, quantized ln, " +
      "exact-sum OLS); Zipfian fixture slopes negative; layout-invariant; " +
      "single-point spectrum yields NULL slope") {
    // counts: the=8, of=4, to=4, in=2, a=1, b=1 → spectrum (8,1)(4,2)(2,1)(1,2)
    val words = Seq.fill(8)("the") ++ Seq.fill(4)("of") ++ Seq.fill(4)("to") ++
      Seq.fill(2)("in") ++ Seq("a", "b")
    // spread across docs so counts cross document boundaries
    val docs = words.grouped(5).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val got = TextAnalysis.zipfFit(docs)
      .as[(Long, Double, Double)].collect().head
    val want = localZipf(words)
    assert(got == want, s"got $got want $want")
    assert(got._2 < 0, "rank-frequency slope must be negative")
    val rep = TextAnalysis.zipfFit(docs.repartition(5))
      .as[(Long, Double, Double)].collect().head
    assert(got == rep)
    // all tokens share one count → one spectrum point → zero variance
    val flat = Seq((1L, "x y z")).toDF("doc_id", "text")
    val f = TextAnalysis.zipfFit(flat)
      .select($"n_points", $"slope".isNull).as[(Long, Boolean)].collect().head
    assert(f == ((1L, true)))
  }

  test("naiveBayesPredict ≡ independent local replica (priors, add-1 " +
    "smoothing, quantized-ln scores); unhinted model join is bit-parity") {
    // expected values computed by an independent Python replica of the
    // documented arithmetic (V=4, N=5, priors x:-916291 y:-510826)
    val docs = Seq((0L, "x", "aa aa ab"), (1L, "x", "aa ab"),
      (2L, "y", "bb bb ba"), (3L, "y", "bb ba"), (4L, "y", "aa bb"))
      .toDF("doc_id", "src", "text")
    val want = Set(
      (0L, "x", "x", -3636766L), (1L, "x", "x", -2825835L),
      (2L, "y", "y", -3387025L), (3L, "y", "y", -2598567L),
      (4L, "y", "y", -3004033L))
    val got = TextAnalysis.naiveBayesPredict(docs, "src")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got == want, s"got $got")
    spark.conf.set("graft.nb.broadcastModel", "false")
    try {
      val unhinted = TextAnalysis.naiveBayesPredict(docs.repartition(7), "src")
        .as[(Long, String, String, Long)].collect().toSet
      assert(unhinted == want, "dropping the broadcast hint must not " +
        "change a single bit")
    } finally spark.conf.unset("graft.nb.broadcastModel")
  }

  test("naiveBayesPredict: NULL class label fails loudly") {
    val docs = Seq((0L, Option("x"), "aa"), (1L, Option.empty[String], "bb"))
      .toDF("doc_id", "src", "text")
    val e = intercept[Exception] {
      TextAnalysis.naiveBayesPredict(docs, "src").collect()
    }
    assert(e.getMessage.contains("naiveBayesPredict"))
  }

  test("naiveBayesPredict: exact score tie breaks to the smallest class " +
    "label") {
    // two perfectly symmetric classes: every doc scores identically under
    // both, so predicted must be the lexicographically smaller label
    val docs = Seq((0L, "m", "w w"), (1L, "z", "w w")).toDF("doc_id", "c", "text")
    val got = TextAnalysis.naiveBayesPredict(docs, "c")
      .select($"predicted").as[String].collect().toSet
    assert(got == Set("m"))
  }
}
