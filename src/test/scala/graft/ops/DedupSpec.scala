package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"

  test("exact dedup groups case/whitespace variants, keeps min id") {
    val docs = Seq(
      (1L, base),
      (2L, base.toUpperCase),
      (3L, "  " + base.replace(" ", "   ") + " "),
      (4L, "completely different text here")).toDF("doc_id", "text")
    val out = Dedup.exact(docs).orderBy("keep_id")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L), (4L, 1L)))
  }

  test("minhash LSH finds planted near-duplicates, not unrelated docs") {
    val nearDup = base.replace("tonight", "today") // 1-word change
    val docs = Seq(
      (1L, base),
      (2L, nearDup),
      (3L, "spark catalyst optimizer rewrites logical plans into physical plans with codegen stages always")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashDuplicatePairs(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 > 0.5 && pairs.head._3 < 1.0)
  }

  test("from-sets fusion seam: band rows, verified pairs, and " +
      "contamination hits computed from materialized shingle sets are " +
      "bit-identical to the text-path operators") {
    val nearDup = base.replace("tonight", "today")
    val docs = Seq(
      (1L, base),
      (2L, nearDup),
      (3L, "spark catalyst optimizer rewrites logical plans into physical plans with codegen stages always"),
      (4L, "short doc"),
      (5L, base + " with an extra clause appended for variety"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the lazy dog and runs far away today"))
      .toDF("doc_id", "text")
    val shs = Dedup.hashedShingleSets(docs).localCheckpoint()
    val fromText = Dedup.minhashBandRows(docs)
      .as[(Long, Int, Long)].collect().toSet
    val fromSets = Dedup.minhashBandRowsFromSets(shs)
      .as[(Long, Int, Long)].collect().toSet
    assert(fromText == fromSets, "band rows diverge")
    val pairsText = Dedup.minhashPairsOnDistinct(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val pairsSets = Dedup.minhashPairsFromSets(shs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairsText == pairsSets, "verified pairs diverge")
    val hitsText = Dedup.contaminationHits(docs, bench)
      .as[(Long, Long)].collect().toSet
    val hitsSets = Dedup.contaminationHitsFromSets(shs, bench)
      .as[(Long, Long)].collect().toSet
    assert(hitsText == hitsSets, "contamination hits diverge")
    assert(pairsText.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(hitsText.nonEmpty)
  }

  test("exact keep_id and minhash pairs keep canonical docs") {
    val docs = Seq(
      (1L, base), (2L, base.toUpperCase), (3L, "something else entirely here"),
      (4L, base.replace("tonight", "today"))).toDF("doc_id", "text")
    val exactKept = Dedup.exact(docs).select("keep_id").as[Long].collect().sorted.toSeq
    assert(exactKept == Seq(1L, 3L, 4L)) // 2 is an exact dup of 1
    // the higher id of a pair is the one a near-dup drop removes: 2 is
    // (the exact dup is caught by minhash too), 1 and 3 never are
    val dropped = Dedup.minhashDuplicatePairs(docs, threshold = 0.5)
      .select("id_b").as[Long].collect().toSet
    assert(!dropped.contains(3L) && !dropped.contains(1L))
    assert(dropped.contains(2L))
  }

  test("jaccard: identity 1.0, disjoint 0.0") {
    val df = Seq((base, base, "x y z a b c d e f")).toDF("a", "b", "c")
    val r = df.select(
      Dedup.jaccard(Dedup.shingles($"a"), Dedup.shingles($"b")),
      Dedup.jaccard(Dedup.shingles($"a"), Dedup.shingles($"c"))).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
  }

  test("simhash: near-identical texts within small hamming distance") {
    val df = Seq((1L, base), (2L, base.replace("tonight", "today")), (3L, "xx yy zz qq ww ee rr tt"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashDuplicatePairs(df, maxHamming = 16)
      .as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(!pairs.map(p => (p._1, p._2)).contains((1L, 3L)))
  }

  test("md5Low64 matches DuckDB md5_number_lower; md5 simhash kernel finds planted dups") {
    // duckdb> select md5_number_lower('hello'), md5_number_lower('');
    assert(Dedup.md5Low64("hello") == java.lang.Long.parseUnsignedLong("10575884659879408057"))
    assert(Dedup.md5Low64("") == java.lang.Long.parseUnsignedLong("9098107892288553193"))
    val df = Seq((1L, base), (2L, base.replace("tonight", "today")), (3L, "xx yy zz qq ww ee rr tt"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashDuplicatePairs(df, maxHamming = 16, tokenHash = "md5")
      .as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(!pairs.map(p => (p._1, p._2)).contains((1L, 3L)))
  }

  test("connectedComponents: chained clusters get one min label; singleton pairs separate") {
    // chain 1-2-3-4 (needs >1 propagation round), separate pair 10-11
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // greedy pair-drop would keep {1} and drop {2,3,4}; component labeling
    // lets the caller keep min-per-component = {1, 10}
  }

  test("minhash clone groups: intra pairs at jaccard 1, cross pairs expand to all members") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = base.replace("mu", "nu") // one token off → jaccard ≥ 0.5, < 1
    val df = Seq(
      (1L, base), (2L, base), (3L, base),       // clone group {1,2,3}
      (10L, near), (11L, near),                 // clone group {10,11}
      (20L, "totally unrelated words about the weather and some ships")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashDuplicatePairs(df, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // intra-group: all C(3,2)+C(2,2) pairs at exactly 1.0
    for (p <- Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
      assert(pairs.get(p).contains(1.0), s"missing intra $p in ${pairs.keySet}")
    // cross-group: every member × member pair, same jaccard < 1
    val crossJ = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L), (3L, 11L))
      .map(p => pairs.getOrElse(p, fail(s"missing cross $p in ${pairs.keySet}")))
    assert(crossJ.distinct.size == 1 && crossJ.head >= 0.5 && crossJ.head < 1.0)
    assert(!pairs.keys.exists(p => p._1 == 20L || p._2 == 20L))
  }

  test("minhash: null-text docs never pair; oversized clone groups don't fan out") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = (Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String])) ++
      (10L to 15L).map(i => (i, base))).toDF("doc_id", "text")
    // the PPJoin wrapper runs the same clone-group pre-stage and cap
    val wrappers = Seq[(String, Int => org.apache.spark.sql.DataFrame)](
      "minhashDuplicatePairs" -> (cap =>
        Dedup.minhashDuplicatePairs(df, threshold = 0.5, maxBucketSize = cap)),
      "prefixFilterPairs" -> (cap =>
        Dedup.prefixFilterPairs(df, threshold = 0.5, maxBucketSize = cap)))
    for ((name, pairsOf) <- wrappers) {
      // default cap: nulls drop, 6-clone group emits C(6,2)=15 pairs
      val normal = pairsOf(1000).as[(Long, Long, Double)].collect()
      assert(!normal.exists(p => p._1 <= 2L || p._2 <= 2L), name)
      assert(normal.count(_._3 == 1.0) == 15, name)
      // cap below the clone-group size: members don't fan out at all
      assert(pairsOf(3).count() == 0, name)
    }
  }

  test("job floor: the near-dup family runs a fixed number of jobs on a " +
      "clone-heavy and an all-unique corpus (both sides of the clone probe)") {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val w = words.split(" ")
    // all-unique: 12 distinct texts, overlapping word windows (many near-dups)
    val unique = ((1L to 10L).map(i => (i, w.drop(i.toInt % 7).mkString(" ") +
        s" doc$i tail$i")) ++
      Seq((11L, words), (12L, words.replace("upsilon", "phi"))))
      .toDF("doc_id", "text")
    // clone-heavy: the same texts, each cloned three times, plus null text
    val clones = unique.as[(Long, String)].collect().toSeq
      .flatMap { case (i, t) => (0 until 3).map(c => (i * 100 + c, t)) }
    val heavy = (clones :+ ((9999L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    def family(docs: org.apache.spark.sql.DataFrame) = Map(
      "minhashDuplicatePairs" -> jobFloor(
        Dedup.minhashDuplicatePairs(docs, threshold = 0.5)),
      "prefixFilterPairs" -> jobFloor(
        Dedup.prefixFilterPairs(docs, threshold = 0.5)),
      "dedupClusters" -> jobFloor(Dedup.dedupClusters(docs, threshold = 0.5)),
      "commonNgramStats" -> jobFloor(TextAnalysis.commonNgramStats(docs)),
      "distinctiveTerms" -> jobFloor(TextAnalysis.distinctiveTerms(docs)))
    val got = Map("unique" -> family(unique), "heavy" -> family(heavy))
    // all-unique: one groups job + the limit-1 probe, then the direct
    // path; clone-heavy: the probe sends the wrappers to the reps and
    // fan-back. dedupClusters runs no probe, so both corpora cost the same;
    // its driver union-find reads the pairs in two narrow jobs (a row count
    // and the packed collect)
    assert(got == Map(
      "unique" -> Map("minhashDuplicatePairs" -> ((9, 3)),
        "prefixFilterPairs" -> ((4, 7)), "dedupClusters" -> ((17, 6)),
        "commonNgramStats" -> ((4, 4)), "distinctiveTerms" -> ((3, 6))),
      "heavy" -> Map("minhashDuplicatePairs" -> ((11, 4)),
        "prefixFilterPairs" -> ((5, 8)), "dedupClusters" -> ((17, 6)),
        "commonNgramStats" -> ((5, 7)), "distinctiveTerms" -> ((6, 7)))),
      got)
  }

  test("dedupClusters ≡ connectedComponents over the pair API (clones, chains, caps)") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = base.replace("mu", "nu")
    val near2 = near.replace("alpha", "omega") // chains: base ~ near ~ near2
    val df = (Seq((1L, base), (2L, base), (7L, near), (8L, near), (9L, near2),
      (20L, "totally different content about ships sailing at dawn"),
      (21L, "totally different content about ships sailing at dawn"),
      (30L, "a lone unique document matching nothing else at all")))
      .toDF("doc_id", "text")
    val viaPairs = Dedup.connectedComponents(
        Dedup.minhashDuplicatePairs(df, threshold = 0.5))
      .as[(Long, Long)].collect().toMap
    val fused = Dedup.dedupClusters(df, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(fused == viaPairs)
    assert(fused(9L) == 1L && fused(21L) == 20L && !fused.contains(30L))
  }

  test("stripCommonLines removes cross-doc boilerplate, preserves order, keeps empty docs") {
    // 2-token lines; "THE COMMON" appears in 3 docs → boilerplate
    val docs = Seq(
      (1L, "the common aa bb cc dd"),
      (2L, "the common ee ff"),
      (3L, "gg hh the common"),
      (4L, "the common"), // fully boilerplate → empty survivor
      (5L, "solo words only here")).toDF("doc_id", "text")
    val out = Dedup.stripCommonLines(docs, lineTokens = 2, minDocFreq = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 3L, 2L, "aa bb cc dd")))
    assert(out(1) == ((2L, 2L, 1L, "ee ff")))
    assert(out(2) == ((3L, 2L, 1L, "gg hh")))
    assert(out(3) == ((4L, 1L, 0L, "")))
    assert(out(4) == ((5L, 2L, 2L, "solo words only here")))
  }

  test("connectedComponents: distributed loop ≡ driver union-find on the same edges") {
    // long chain forces multiple propagation rounds on the distributed path
    val pairs = ((1L to 19L).map(i => (i + 1, i)) ++ Seq((100L, 200L), (300L, 100L)))
      .toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, "id_a", "id_b", 50, 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(local(20L) == 1L && local(300L) == 100L)
  }

  test("keepBestPerCluster: highest quality survives per cluster, " +
      "singletons and null-text pass through") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val df = Seq(
      (1L, s"$base one", 10L),   // cluster A, low quality
      (2L, s"$base two", 30L),   // cluster A, BEST
      (3L, s"$base three", 20L), // cluster A, middle
      (4L, "completely different content entirely unrelated words here", 5L),
      (5L, null.asInstanceOf[String], 0L))
      .toDF("doc_id", "text", "q")
    val kept = Dedup.keepBestPerCluster(df, org.apache.spark.sql.functions.col("q"),
        threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 4L, 5L))
  }

  test("prefixFilterPairs ≡ brute force, including borderline-jaccard pairs " +
      "LSH banding can miss") {
    // doc 2 shares roughly half its content with doc 1 (j ≈ 0.5-0.6):
    // at k=64/b=16 LSH misses such a pair with ~20% probability; the
    // prefix filter must find it deterministically
    val half = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      (1L, s"$half india juliet kilo lima"),
      (2L, s"$half mike november oscar papa"),
      (3L, "totally different words here nothing shared at all today"),
      (4L, s"$half india juliet kilo lima")) // exact dup of 1
      .toDF("doc_id", "text")
    val got = Dedup.prefixFilterPairs(docs, threshold = 0.3)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    // brute force over the same hashed shingle sets
    val sets = Dedup.hashedShingleSets(docs).as[(Long, Seq[Long])].collect()
    val exp = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = sa.toSet.intersect(sb.toSet).size.toDouble / sa.toSet.union(sb.toSet).size
      if j >= 0.3
    } yield (ia, ib)).toSet
    assert(got == exp, s"got $got, expected $exp")
    assert(got.contains((1L, 2L)) && got.contains((1L, 4L)))
  }

  test("prefixFilterPairs clone-group wrapper ≡ direct pipeline on a " +
      "mirrored corpus, jaccard values included") {
    // two 3-clone groups of similar contents + one unrelated doc: the
    // wrapper must emit the full clone-expanded pair set with the same
    // jaccard the direct (no-pre-stage) pipeline computes
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
    val b = "alpha bravo charlie delta echo foxtrot golf hotel mike papa"
    val docs = Seq(
      (1L, a), (2L, b), (3L, a), (4L, b), (5L, a), (6L, b),
      (7L, "nothing shared with anything else at all in this text"))
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    val wrapped = canon(Dedup.prefixFilterPairs(docs, threshold = 0.3))
    val direct = canon(Dedup.prefixFilterPairsOnDistinct(docs, threshold = 0.3))
    assert(wrapped == direct, s"wrapped $wrapped vs direct $direct")
    // 6 similar docs → C(6,2) = 15 pairs; clone pairs carry jaccard 1.0
    assert(wrapped.size == 15)
    assert(wrapped.count(_._3 == 1.0) == 6) // 2 groups × C(3,2)
  }

  test("dedupeUnitsWithinDoc: first occurrence survives in order; " +
      "null/empty and delimiter choice handled") {
    val docs = Seq(
      (1L, "header\nbody one\nheader\nbody two\nbody one"),
      (2L, "only\nunique\nlines"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.dedupeUnitsWithinDoc(docs, delim = "\n")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 5L, 3L, "header\nbody one\nbody two")))
    assert(out(1) == ((2L, 3L, 3L, "only\nunique\nlines")))
    // null text → one empty unit, kept as-is
    assert(out(2) == ((3L, 1L, 1L, "")))
    // token-grain (space delim): repeated words collapse, order preserved
    val tok = Dedup.dedupeUnitsWithinDoc(
        Seq((7L, "a b a c b a d")).toDF("doc_id", "text"), delim = " ")
      .as[(Long, Long, Long, String)].collect().head
    assert(tok == ((7L, 7L, 4L, "a b c d")))
  }

  test("duplicateSpans: shared paragraph found at both hosts, merged maximal, " +
      "unique text and short docs excluded") {
    // A 40-char "paragraph" embedded in two otherwise-distinct docs at
    // different offsets; doc 3 is unique; doc 4 is shorter than the gram.
    val para = "0123456789abcdefghij0123456789ABCDEFGHIJ" // len 40
    val d1 = "XX" + para + "YYYYYYYYYYYY"                  // span [2, 42)
    val d2 = "zzzzzzzz" + para                             // span [8, 48)
    val docs = Seq(
      (1L, d1), (2L, d2),
      (3L, "completely unrelated text that is long enough to gram over"),
      (4L, "tiny")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, gramLen = 20)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // every 20-gram inside para occurs in both docs; windows merge into
    // ONE maximal span covering exactly the shared 40 chars
    assert(got == Seq((1L, 2L, 42L, 40L), (2L, 8L, 48L, 40L)), s"got $got")
  }

  test("duplicateSpans: two separated shared snippets stay two spans; " +
      "intra-doc-only repetition does not count") {
    val snipA = "AAAAAAAAAAAAAAAAAAAA" // 20 chars
    val snipB = "BBBBBBBBBBBBBBBBBBBB"
    // fillers are UNIQUE PER DOC (a shared filler would itself be a
    // legitimate cross-doc duplicate and bridge the spans) and longer
    // than gramLen, so the two snippet islands must not merge
    val docs = Seq(
      (1L, snipA + "qrstuvwxyz0123456789qrstuvwxyz" + snipB),
      (2L, snipB + "." * 25 + snipA),
      // doc 3 repeats a snippet INTERNALLY only — minDocs counts
      // DISTINCT docs, so this alone must produce nothing for snippet C
      (3L, "CCCCCCCCCCCCCCCCCCCC" + "=" * 30 + "CCCCCCCCCCCCCCCCCCCC"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, gramLen = 20)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 20L, 20L), (1L, 50L, 70L, 20L),
      (2L, 0L, 20L, 20L), (2L, 45L, 65L, 20L)), s"got $got")
  }

  test("ngramNovelty: df=1 grams counted per doc; shared grams are not " +
      "novel; short docs shingle to their whole text; layout-invariant") {
    // d1 {a b c, b c d}, d2 {a b c, b c x}: "a b c" shared → each doc
    // 1 unique of 2 grams; d3 is sub-3-token → one whole-text gram, unique
    val docs = Seq((1L, "a b c d"), (2L, "a b c x"), (3L, "hi"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(docs)
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L, 500000L), (2L, 2L, 1L, 500000L),
      (3L, 1L, 1L, 1000000L)), s"got $got")
    // exact clones: every gram has df ≥ 2 → novelty 0 for both
    val clones = Seq((1L, "p q r s t"), (2L, "p q r s t"))
      .toDF("doc_id", "text")
    val c = Dedup.ngramNovelty(clones.repartition(4))
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(c == Seq((1L, 3L, 0L, 0L), (2L, 3L, 0L, 0L)), s"got $c")
  }

  test("suffixArraySpans: cross-doc shared paragraph found at its maximal " +
      "extent; within-doc repeats count; unique text stays clean") {
    val para = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, s"intro one $para outro alpha"),
      (2L, s"other lead-in words here $para plus some more tail"),
      (3L, "entirely unique content with no repeats whatsoever"),
      (4L, "xyzxyzxyzxyzxyzxyz")) // within-doc period-3 repeat, 6 periods
      .toDF("doc_id", "text")
    val got = Dedup.suffixArraySpans(docs, gramLen = 10, shards = 1)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
    val byDoc = got.groupBy(_._1)
    // the shared paragraph is one maximal span per doc, len >= |para|
    assert(byDoc(1L).size == 1 && byDoc(1L).head._4 >= para.length)
    assert(byDoc(2L).size == 1 && byDoc(2L).head._4 >= para.length)
    // maximal means MAXIMAL: the prefixes share the suffix "e " and both
    // tails start with " ", so the true duplicated region is
    // "e " + para + " " (54 chars) starting 2 before the paragraph
    val s1 = byDoc(1L).head
    assert(s1 == ((1L, 8L, 62L, 54L)), s"got $s1")
    assert(!byDoc.contains(3L))
    // 18-char period-3 string: every 10-gram start p has gram(p) ==
    // gram(p±3) → positions 0..8 all covered → one whole-string span
    assert(byDoc(4L) == Seq((4L, 0L, 18L, 18L)))
  }

  test("suffixArraySpans ≡ relational gram-multiplicity islands on a " +
      "planted-duplicate corpus (single shard)") {
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "fox", "golf", "hotel", "india", "juliet")
    val planted = "repeated block of shared text sits right here"
    def doc(i: Int): String = {
      val words = Seq.fill(12 + rng.nextInt(8))(vocab(rng.nextInt(vocab.size)))
      if (i % 3 == 0) (words.take(5) :+ planted).++(words.drop(5)).mkString(" ")
      else words.mkString(" ")
    }
    val docs = (0 until 40).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
      .localCheckpoint()
    val L = 12
    val got = Dedup.suffixArraySpans(docs, gramLen = L, shards = 1)
      .as[(Long, Long, Long, Long)].collect().toSet
    // relational reference: positions whose L-gram occurs >= 2 times
    // (multiplicity), merged into islands with gap <= L
    val grams = docs.filter(length($"text") >= L)
      .select($"doc_id", explode(sequence(lit(0), length($"text") - L)).as("pos"), $"text")
      .select($"doc_id", $"pos".cast("long").as("pos"),
        expr(s"substring(text, pos + 1, $L)").as("g"))
      .localCheckpoint()
    val dup = grams.groupBy($"g").agg(count(lit(1)).as("n"))
      .filter($"n" >= 2).select($"g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    val ref = grams.join(dup, Seq("g"), "left_semi")
      .select($"doc_id", $"pos")
      .withColumn("brk", when($"pos" - lag($"pos", 1).over(w) <= L, 0L).otherwise(1L))
      .withColumn("isl", sum($"brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("span_start"), (max($"pos") + L).as("span_end"))
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start").as("span_len"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == ref, s"sa-only ${got -- ref}; rel-only ${ref -- got}")
    assert(got.nonEmpty)
  }

  test("buildSuffixArray (prefix doubling) ≡ naive full-comparison suffix " +
      "sort, including repetition-heavy and all-equal inputs") {
    val rng = new scala.util.Random(17)
    val cases = Seq("", "a", "aaaaaaaaaa", "banana", "abababababab",
      "mississippi" * 3) ++
      (1 to 8).map(n => Seq.fill(20 + rng.nextInt(60))(
        "ab ba"(rng.nextInt(5))).mkString) ++
      (1 to 4).map(_ => Seq.fill(40)("xyzxyz"(rng.nextInt(6))).mkString)
    def lexLt(s: Array[Int])(i: Int, j: Int): Boolean = {
      var a = i; var b = j
      while (a < s.length && b < s.length && s(a) == s(b)) { a += 1; b += 1 }
      if (a == s.length) true else if (b == s.length) false else s(a) < s(b)
    }
    for (t <- cases) {
      val s = t.codePoints().toArray
      val got = Dedup.buildSuffixArray(s).toSeq
      val want = s.indices.sortWith(lexLt(s))
      assert(got == want, s"input '$t'\n got $got\nwant $want")
    }
    // non-BMP alphabet: codepoints above 0xFFFF sort as single symbols
    val emoji = "🍕a🍕🍕ab".codePoints().toArray
    assert(Dedup.buildSuffixArray(emoji).toSeq ==
      emoji.indices.sortWith(lexLt(emoji)))
  }

  test("suffixSpansJvm counts CODEPOINTS: spans after a supplementary " +
      "char match the relational (substr/length) offsets, not UTF-16") {
    // 🍕 = 2 UTF-16 units but 1 codepoint; the shared 12-codepoint block
    // starts at codepoint offset 2 in doc 1 ("🍕x" prefix) — a UTF-16
    // kernel would report 3
    val block = "shared block" // 12 codepoints
    val docs = Array((1L, s"🍕x$block"), (2L, s"yz$block"))
    val spans = Dedup.suffixSpansJvm(docs, 12).toSeq.sortBy(_._1)
    assert(spans == Seq((1L, 2L, 14L, 12L), (2L, 2L, 14L, 12L)),
      s"got $spans")
  }

  test("suffixSpansJvm: private-use chars U+E000–U+EFFF in TEXT are " +
      "remapped to U+FFFD — no spurious separator-collision spans, and " +
      "matching treats them as U+FFFD (oracle-equivalent remap)") {
    // doc 1 contains the exact char used as doc-0's separator (U+E000):
    // without the remap its window could match the separator position
    val sep = '\uE000'
    val a = (10L, "left payload unique alpha")
    val b = (11L, s"text with ${sep}${sep}${sep} private use block here")
    // only-dup content: nothing repeats → no spans at all
    assert(Dedup.suffixSpansJvm(Array(a, b), 8).isEmpty)
    // a PUA char matches where U+FFFD matches: two docs identical up to
    // PUA-vs-FFFD produce identical full-coverage spans
    val c = (1L, "shared content block \uE123 shared content block")
    val d2 = (2L, "shared content block \uFFFD shared content block")
    val spans = Dedup.suffixSpansJvm(Array(c, d2), 10).toSeq
    assert(spans.map(_._1).toSet == Set(1L, 2L), s"got $spans")
    val byDoc = spans.groupBy(_._1)
    assert(byDoc(1L).map(s => (s._2, s._3)) == byDoc(2L).map(s => (s._2, s._3)))
  }

  test("suffixArraySpans: non-long-castable doc id fails with a NAMED " +
      "error, not an opaque NPE") {
    val docs = Seq(("doc-x", "some text body here"), ("doc-y", "other"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.suffixArraySpans(docs, gramLen = 5, shards = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("non-null long-castable doc id")),
      s"got ${msgs(e)}")
  }

  test("crossShardGramMiss: quantifies the duplicate-gram mass no single " +
      "shard sees twice; captured mass excluded; clean corpus all zeros") {
    val ids = shardTable("", 32L, 4L).toSeq.sorted
    val (idA, shA) = ids.head
    val (idB, _) = ids.find(_._2 != shA).get
    val (idC, _) = ids.find(p => p._2 == shA && p._1 != idA).get
    val crossDup = "cross-shard duplicated sentence" // split across shards
    val sameDup = "same-shard duplicated sentence xx" // both in shard A
    val docs = Seq(
      (idA, s"one $crossDup and $sameDup"),
      (idB, s"two $crossDup tail words"),
      (idC, s"three $sameDup closing")).toDF("doc_id", "text")
    val row = Dedup.crossShardGramMiss(docs, gramLen = 12, shards = 4)
      .as[(Long, Long, Long, Long)].collect().head
    val (nDup, dupOcc, nMissed, missedOcc) = row
    assert(nDup > 0 && nMissed > 0, s"got $row")
    // some dup grams ARE captured (the same-shard pair), so missed < all
    assert(nMissed < nDup && missedOcc < dupOcc, s"got $row")
    // at shards=1 nothing can be missed
    val one = Dedup.crossShardGramMiss(docs, gramLen = 12, shards = 1)
      .as[(Long, Long, Long, Long)].collect().head
    assert(one._3 == 0L && one._4 == 0L && one._1 >= nDup, s"got $one")
    // a corpus with no duplicate grams: zero row (sums NULL-coalesced by
    // the caller; here count is 0 and sums are null)
    val clean = Seq((1L, "totally unique first body"),
      (2L, "completely different second")).toDF("doc_id", "text")
    val z = Dedup.crossShardGramMiss(clean, gramLen = 12, shards = 4)
      .as[(Long, Long, Long, Long)].collect().head
    assert(z == ((0L, 0L, 0L, 0L)), s"got $z")
  }

  test("suffixArraySpans: recall is within-shard by construction — a pair " +
      "split across shards is missed at shards=4, found at shards=1") {
    // find two ids landing in different md5 shards
    val ids = shardTable("", 16L, 4L).toSeq.sorted
    val (idA, shA) = ids.head
    val (idB, _) = ids.find(_._2 != shA).get
    val shared = "this exact duplicated sentence appears in both documents"
    val docs = Seq((idA, s"aaa $shared"), (idB, s"bbb bbb $shared"))
      .toDF("doc_id", "text")
    assert(Dedup.suffixArraySpans(docs, gramLen = 12, shards = 4).count() == 0L)
    assert(Dedup.suffixArraySpans(docs, gramLen = 12, shards = 1).count() == 2L)
  }

  /** id -> shard for ids 0 until n under `salt`: the operator's
    * `pmod(Md5Low64(salt ++ id), shards)`, one job for the whole range. */
  private def shardTable(salt: String, n: Long, shards: Long): Map[Long, Long] =
    spark.range(0L, n)
      .select($"id", pmod(graft.functions.Md5Low64(
        concat(lit(salt), $"id".cast("string"))), lit(shards)))
      .as[(Long, Long)].collect().toMap

  test("suffixArraySpansRotated: rotations=1 is bit-identical to the base " +
      "operator (rotation 0 is the unsalted sharding)") {
    val para = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, s"intro one $para outro alpha"),
      (2L, s"other lead-in words here $para plus some more tail"),
      (3L, "entirely unique content with no repeats whatsoever"))
      .toDF("doc_id", "text")
    val base = Dedup.suffixArraySpans(docs, gramLen = 10, shards = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    val rot1 = Dedup.suffixArraySpansRotated(docs, gramLen = 10, shards = 2,
      rotations = 1).as[(Long, Long, Long, Long)].collect().toSet
    assert(rot1 == base, s"rot1=$rot1 base=$base")
  }

  test("suffixArraySpansRotated: a pair split by the base sharding but " +
      "co-sharded under the rot1 salt is recovered by rotations=2") {
    // deterministic id search: base sharding separates them, rot1
    // sharding co-locates them (independent hashes, so such pairs exist
    // in any modest id range)
    val base = shardTable("", 64L, 4L)
    val rot1 = shardTable(Dedup.rotationSalt(1), 64L, 4L)
    val pair = (for {
      a <- 0L until 64L; b <- (a + 1) until 64L
      if base(a) != base(b)
      if rot1(a) == rot1(b)
    } yield (a, b)).headOption
    assert(pair.nonEmpty, "no base-split rot1-co-sharded pair in 0..63")
    val (idA, idB) = pair.get
    val shared = "this exact duplicated sentence appears in both documents"
    val docs = Seq((idA, s"aaa $shared"), (idB, s"bbb bbb $shared"))
      .toDF("doc_id", "text")
    assert(Dedup.suffixArraySpansRotated(docs, gramLen = 12, shards = 4,
      rotations = 1).count() == 0L)
    val got = Dedup.suffixArraySpansRotated(docs, gramLen = 12, shards = 4,
      rotations = 2).as[(Long, Long, Long, Long)].collect().toSet
    assert(got.map(_._1) == Set(idA, idB), s"got $got")
  }

  test("suffixArraySpansRotated: cross-rotation spans merge as maximal " +
      "intervals — covered set is the union, spans per doc disjoint") {
    // one doc sharing its HEAD with doc a (co-sharded base) and its TAIL
    // with doc b (co-sharded only under rot1) — rotated output must be
    // the merged union of the two per-rotation spans
    val base = shardTable("", 256L, 4L)
    val rot1 = shardTable(Dedup.rotationSalt(1), 256L, 4L)
    val ids = (0L until 256L).map(i => (i, base(i), rot1(i)))
    val center = ids.head
    val a = ids.find(t => t._2 == center._2 && t._1 != center._1).get
    val b = ids.find(t => t._3 == center._3 && t._2 != center._2
      && t._1 != center._1 && t._1 != a._1).get
    val head = "shared head sentence with plenty of characters"
    val tail = "completely different trailing fragment for doc b linkage"
    val docs = Seq(
      (center._1, s"$head MIDDLE-UNIQUE-FILLER $tail"),
      (a._1, s"prefix-a $head suffix-a"),
      (b._1, s"prefix-b $tail suffix-b")).toDF("doc_id", "text")
    val r1 = Dedup.suffixArraySpansRotated(docs, gramLen = 12, shards = 4,
      rotations = 1).filter($"doc_id" === center._1).count()
    val r2 = Dedup.suffixArraySpansRotated(docs, gramLen = 12, shards = 4,
      rotations = 2).filter($"doc_id" === center._1)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    // rotation 1 sees only the head span; rotation 2 adds the tail span
    assert(r1 == 1L, s"base rotation saw $r1 spans")
    assert(r2.size == 2, s"got $r2")
    // disjoint, sorted, non-adjacent (the unique middle separates them)
    assert(r2(0)._3 < r2(1)._2, s"got $r2")
  }

  test("crossShardGramMissRotated: rotations_used=1 row equals the single-" +
      "sharding audit; miss mass is monotone non-increasing in rotations") {
    val rng = new scala.util.Random(11)
    val vocab = Vector("kilo", "lima", "mike", "november", "oscar", "papa")
    val planted = "rotated audit planted duplicate block"
    val docs = (0 until 60).map { i =>
      val words = Seq.fill(10 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size)))
      val t = if (i % 2 == 0)
        (words.take(3) :+ planted).++(words.drop(3)).mkString(" ")
      else words.mkString(" ")
      (i.toLong, t)
    }.toDF("doc_id", "text").localCheckpoint()
    val single = Dedup.crossShardGramMiss(docs, gramLen = 12, shards = 8)
      .as[(Long, Long, Long, Long)].collect().head
    val rot = Dedup.crossShardGramMissRotated(docs, gramLen = 12,
      shards = 8, rotations = 3)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
      .sortBy(_._1)
    assert(rot.size == 3)
    val r1 = rot.head
    assert((r1._2, r1._3, r1._4, r1._5) == single,
      s"rot1=$r1 single=$single")
    // each extra rotation can only recover miss mass, never add it
    assert(rot.sliding(2).forall(p => p(1)._4 <= p(0)._4
      && p(1)._5 <= p(0)._5), s"got $rot")
    // dup totals are rotation-independent
    assert(rot.map(r => (r._2, r._3)).distinct.size == 1, s"got $rot")
  }
}
