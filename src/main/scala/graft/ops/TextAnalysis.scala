package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star EXT):
  * language ID, quality scoring, token counting, document fingerprinting,
  * repetition signals, corpus-level boilerplate fraction.
  * Scalar ops are pure column expressions — codegen'd, no UDFs,
  * embarrassingly parallel; corpus-level ops shuffle only fixed-width
  * (id, hash/count) rows, never text.
  */
object TextAnalysis {

  private def toks(text: Column): Column =
    split(Dedup.normalized(text), " ")

  /** Self-trained unigram negative-log-likelihood per document — the
    * CCNet-style "perplexity filter" signal without an external LM: train
    * term frequencies on the corpus itself, score each doc by its mean
    * token −ln p(t). High = unusual/garbled text, low = boilerplate-like.
    *
    * Scale shape: one token explode feeds the vocab aggregate (map-side
    * combinable, (term, count) rows) and the scoring join; the vocab
    * table broadcasts (natural-language vocabularies are ~10⁶ terms ≈
    * tens of MB — drop the hint and let AQE pick the join if yours is
    * unbounded). Cross-engine exactness: per-token −ln p quantized to
    * 1e-6 by floor (the BM25 discipline), summed as LONGS; one double
    * division chain at the end.
    *
    * @return (id, dl, avg_nll) — dl the token count, avg_nll ≥ 0
    */
  def unigramNll(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // materialized once so the vocab aggregate and the scoring join share
    // the same single tokenize+explode pass
    val tokRows = docs.select(col(idCol).as("id"),
      explode(split(Dedup.normalized(coalesce(col(textCol), lit(""))), " ")).as("t"))
      .localCheckpoint()
    val vocab = tokRows.groupBy(col("t")).agg(count(lit(1)).as("n_t"))
    val total = vocab.agg(sum(col("n_t")).as("n"))
    val scored = tokRows
      .join(broadcast(vocab), "t")
      .crossJoin(broadcast(total))
      .select(col("id"),
        floor(log(col("n_t").cast("double") / col("n")) * 1e6).as("c6"))
    scored.groupBy(col("id"))
      .agg(sum(col("c6")).as("s"), count(lit(1)).as("dl"))
      .select(col("id"), col("dl"),
        ((-col("s")).cast("double") / col("dl") / 1e6).as("avg_nll"))
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023 — public literature): score every raw
    * document by Σ_tokens ln(p̂_target(t) / q̂_raw(t)) with add-1
    * smoothed unigram estimates trained on a TARGET sample vs the raw
    * corpus itself — the standard cheap "looks like the target domain"
    * selector for pre-training mixes. High score = most target-like;
    * downstream selection is a quota top-k on (score_x6 desc, id), which
    * is deterministic by construction (the content-keyed sampling
    * discipline — at a fixed seed, Gumbel-noise resampling adds nothing
    * the rank doesn't).
    *
    * Scale shape: ONE tokenize+explode of the raw corpus feeds both the
    * raw vocab and the scoring join ([[unigramNll]]'s checkpoint
    * pattern); the target side aggregates to its own vocab (target ≪
    * raw by contract). The per-term log-ratio table is vocab-sized and
    * broadcast-hinted BY DEFAULT; set spark.conf
    * `graft.dsir.broadcastRatios=false` for an unbounded (web-scale)
    * vocabulary — the hint is dropped and Catalyst/AQE picks the join
    * from the table's size stats instead of OOMing the driver on a
    * forced broadcast. Smoothing: (n_t+1)/(total_t + V) on both sides
    * with V = |raw ∪ target vocabulary| (an exact distinct count, one
    * control-plane scalar). EXACTNESS: each ln is floor-quantized to
    * 1e-6 separately, the ratio is an integer difference, per-doc sums
    * are exact longs.
    *
    * @param raw    corpus to score (idCol, textCol)
    * @param target in-domain sample (textCol)
    * @return (id, dl, score_x6) — dl the token count
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tokRows = tokenRows(raw, textCol, col(idCol).as("id"))
      .localCheckpoint()
    val lr = importanceRatiosFrom(
      tokRows.groupBy(col("t")).agg(count(lit(1)).as("nr")),
      target, textCol)
    val hinted =
      if (raw.sparkSession.conf.get("graft.dsir.broadcastRatios", "true").toBoolean)
        broadcast(lr)
      else lr
    tokRows.join(hinted, Seq("t"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("dl"), sum(col("lr6")).as("score_x6"))
  }

  private def tokenRows(df: DataFrame, textCol: String,
      cols: Column*): DataFrame =
    df.select(cols :+ explode(split(Dedup.normalized(
      coalesce(col(textCol), lit(""))), " ")).as("t"): _*)

  /** The frozen (t, lr6) per-term log-ratio table of [[importanceWeights]]
    * on its own — the artifact a STREAMING scorer broadcasts
    * ([[graft.streaming.DocumentStreams.importanceScoreStream]]): train
    * the ratios on a batch corpus snapshot, score the firehose
    * statelessly, retrain + restart to roll a new table. */
  def importanceRatios(raw: DataFrame, target: DataFrame,
      textCol: String = "text"): DataFrame =
    importanceRatiosFrom(
      tokenRows(raw, textCol).groupBy(col("t"))
        .agg(count(lit(1)).as("nr")),
      target, textCol)

  /** Multinomial naive Bayes, self-trained and self-scored — the
    * classic multi-CLASS text classifier (the step up from
    * [[graft.ops.Regression.perceptronTrain]]'s binary margin): class
    * priors ln(n_c/N) plus add-1 smoothed per-term likelihoods
    * ln((n_tc+1)/(tot_c+V)) summed over document tokens, predicted =
    * argmax. Training and scoring share one corpus here (the
    * label-audit shape: "does the text support the label column?"),
    * but the model table stands alone for a train-here/score-there
    * split.
    *
    * EXACTNESS: every ln is floor-quantized to 1e-6 units separately
    * (the [[importanceWeights]] pattern), scores are exact integer
    * sums, argmax ties break to the SMALLEST class label via the
    * min-struct aggregate — bit-identical across engines and
    * partitionings.
    *
    * Scale shape: ONE tokenize+explode pass feeds the (t, class)
    * count table and the scoring join; the model is SPARSE — one row
    * per OBSERVED (term, class) pair plus k per-class defaults for
    * unseen terms (algebraically identical: an unseen pair's smoothed
    * weight ln(1/(tot_c+V)) is a constant per class, so
    * score = Σ_observed w6 + (dl − matched)·default6). A dense
    * (vocab × k) grid measured an OOM at the 100× fixture (875k
    * variant tokens × 16 classes as one broadcast); the sparse table
    * is |observed pairs| ≈ vocab-sized when class vocabularies barely
    * overlap. Broadcast-hinted by default,
    * `graft.nb.broadcastModel=false` drops the hint for vocabularies
    * where even the sparse table outgrows the driver (the
    * `graft.dsir.broadcastRatios` discipline); the per-document score
    * frame is k rows per document, k the (small) class count.
    *
    * @return (id, actual, predicted, score_x6) — one row per document,
    *         score_x6 the winning class's quantized log-posterior
    */
  def naiveBayesPredict(docs: DataFrame, classCol: String,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // NULL labels would train a phantom class whose argmax tie-break
    // order is engine-dependent — fail loudly instead (the perceptron
    // label-contract discipline)
    val labeled = docs.withColumn(classCol,
      when(col(classCol).isNotNull, col(classCol)).otherwise(raise_error(
        lit(s"naiveBayesPredict: NULL class label in '$classCol' — " +
          "filter or impute labels upstream"))))
    val tokRows = tokenRows(labeled, textCol,
      col(idCol).as("id"), col(classCol).as("cls"))
      .localCheckpoint()
    val tc = tokRows.groupBy(col("t"), col("cls"))
      .agg(count(lit(1)).as("n_tc")).localCheckpoint()
    val classes = labeled.groupBy(col(classCol).as("cls"))
      .agg(count(lit(1)).as("n_docs")).localCheckpoint()
    val classTotals = tc.groupBy(col("cls")).agg(sum(col("n_tc")).as("tot_c"))
    // control-plane scalars: vocabulary size and corpus size
    val vocabSize = tc.select(col("t")).distinct().count()
    val nDocs = classes.agg(sum(col("n_docs"))).first().getLong(0)
    require(nDocs > 0, "naiveBayesPredict needs a non-empty corpus")
    val prior = classes.join(classTotals, "cls")
      .select(col("cls"), col("tot_c"),
        floor(log(col("n_docs").cast("double") / lit(nDocs.toDouble)) * 1e6)
          .as("prior6"),
        // per-class weight of a term UNSEEN in the class: ln(1/(tot_c+V))
        floor(log(lit(1.0) /
          (col("tot_c") + lit(vocabSize)).cast("double")) * 1e6)
          .as("default6"))
      .localCheckpoint() // k rows
    // SPARSE model: smoothed weight minus the class default, for OBSERVED
    // (term, class) pairs only — unseen pairs contribute default6 via the
    // (dl − matched) closing term below
    val model = tc.join(broadcast(prior.select(col("cls"), col("tot_c"),
        col("default6"))), Seq("cls"))
      .select(col("t"), col("cls").as("cand"),
        (floor(log((col("n_tc") + 1L).cast("double") /
          (col("tot_c") + lit(vocabSize)).cast("double")) * 1e6) -
          col("default6")).as("w6d"))
    val hinted =
      if (docs.sparkSession.conf.get("graft.nb.broadcastModel", "true").toBoolean)
        broadcast(model)
      else model
    // single consumer (the crossJoin below) — a checkpoint here paid a
    // materialization job + doc-row copy that nothing read twice (r10)
    val dl = tokRows.groupBy(col("id"), col("cls"))
      .agg(count(lit(1)).as("dl"))
    // observed contributions: Σ (w6 − default6) over matched instances
    val obs = tokRows.join(hinted, Seq("t"))
      .groupBy(col("id"), col("cls"), col("cand"))
      .agg(sum(col("w6d")).as("s6d"))
    dl.crossJoin(broadcast(prior.select(col("cls").as("cand"),
        col("prior6"), col("default6"))))
      .join(obs, Seq("id", "cls", "cand"), "left")
      .select(col("id"), col("cls"), col("cand"),
        (coalesce(col("s6d"), lit(0L)) + col("dl") * col("default6") +
          col("prior6")).as("score"))
      .groupBy(col("id"), col("cls"))
      // argmax score, ties to the smallest class label: min over the
      // (−score, label) struct — one map-side-combinable aggregate.
      // Round-11 negative result, measured and REVERTED: a packed
      // hash-argmax here (dense class ids via a k-row window, decimal
      // atom, broadcast decode join — the [[graft.ops.ArgmaxPack]] move
      // that wins on the E-row graph move loops) ABAB'd 2.49–2.64 s →
      // 2.72–3.30 s at sf0.1: this frame is only docs × k rows (k ≈ 16
      // classes), the struct sort is cheap at that width, and the added
      // window + two broadcast joins + atom arithmetic cost more than
      // the two sorts they remove. The struct-min stays.
      .agg(min(struct((-col("score")).as("ns"), col("cand").as("c"))).as("best"))
      .select(col("id"), col("cls").as("actual"),
        col("best.c").as("predicted"), (-col("best.ns")).as("score_x6"))
  }

  private def importanceRatiosFrom(rawVocab0: DataFrame, target: DataFrame,
      textCol: String): DataFrame = {
    val rawVocab = rawVocab0.localCheckpoint()
    val tgtVocab = tokenRows(target, textCol).groupBy(col("t"))
      .agg(count(lit(1)).as("nt")).localCheckpoint()
    // three control-plane scalars off the checkpointed vocab frames
    val vocabSize = rawVocab.select(col("t"))
      .unionByName(tgtVocab.select(col("t"))).distinct().count()
    val rawTotal = rawVocab.agg(sum(col("nr"))).first().getLong(0)
    val tgtTotal = tgtVocab.agg(coalesce(sum(col("nt")), lit(0L)))
      .first().getLong(0)
    require(tgtTotal > 0, "importanceWeights needs a non-empty target")
    rawVocab.join(tgtVocab, Seq("t"), "left")
      .select(col("t"),
        (floor(log((coalesce(col("nt"), lit(0L)) + 1L).cast("double") /
            lit((tgtTotal + vocabSize).toDouble)) * 1e6) -
          floor(log((col("nr") + 1L).cast("double") /
            lit((rawTotal + vocabSize).toDouble)) * 1e6)).as("lr6"))
  }

  /** JVM replica of [[importanceWeights]]' per-doc scoring against a
    * frozen ratio map: tokenization is [[Dedup.normalizedJvm]] + split
    * (parity with the expression path pinned by the kernel-parity
    * specs); tokens absent from the map drop from both dl and the sum,
    * exactly like the batch inner join. */
  private[graft] def importanceScoreJvm(text: String,
      m: collection.Map[String, Long]): (Long, Long) = {
    val toks = Dedup.normalizedJvm(
      if (text == null) "" else text).split(" ", -1)
    var s = 0L
    var n = 0L
    toks.foreach { t =>
      val lr = m.get(t)
      if (lr.isDefined) { s += lr.get; n += 1 }
    }
    (n, s)
  }

  /** Self-trained BIGRAM NLL: score each doc by -mean log P(t2|t1) with
    * conditional probabilities n(t1,t2)/n(t1,·) estimated from the corpus
    * itself — the next step up from [[unigramNll]] as a perplexity-filter
    * signal (catches word-salad docs whose unigram mix looks fine).
    *
    * Unlike the unigram vocab (always broadcast here), the bigram table
    * scales with corpus token diversity squared-ish, so neither count
    * join carries a broadcast HINT: Catalyst picks broadcast while the
    * table is under the threshold (test scale) and falls back to shuffle
    * hash joins from its size stats at corpus scale — the adaptive choice
    * is the point. Docs with < 2 tokens emit no bigrams and drop out,
    * same convention as the oracle. Log quantization (floor(ln·1e6)
    * longs) keeps per-row values cross-engine exact; sums are exact. */
  def bigramNll(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toksArr = docs.select(col(idCol).as("id"),
        split(Dedup.normalized(coalesce(col(textCol), lit(""))), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
    val bg = toksArr.select(col("id"), explode(expr(
        "transform(sequence(0, size(ts)-2), i -> struct(ts[i] AS t1, ts[i+1] AS t2))")).as("b"))
      .select(col("id"), col("b.t1"), col("b.t2"))
      .localCheckpoint() // one tokenize+explode pass shared by all 3 consumers
    val c12 = bg.groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n12"))
    val c1 = bg.groupBy(col("t1")).agg(count(lit(1)).as("n1"))
    bg.join(c12, Seq("t1", "t2")).join(c1, Seq("t1"))
      .select(col("id"),
        floor(log(col("n12").cast("double") / col("n1")) * 1e6).as("c6"))
      .groupBy(col("id"))
      .agg(sum(col("c6")).as("s"), count(lit(1)).as("dl"))
      .select(col("id"), col("dl"),
        ((-col("s")).cast("double") / col("dl") / 1e6).as("avg_nll"))
  }

  /** Whitespace token count; empty/blank text → 0. */
  def tokenCount(text: Column): Column =
    when(trim(text) === "" || text.isNull, 0).otherwise(size(toks(text)))

  /** Flesch reading-ease inputs + quantized score — the classic
    * readability gate for corpus curation (too-low = OCR junk/legalese,
    * implausibly-high = listicle fragments). Syllables via the vowel-run
    * heuristic `[aeiouy]+` (regexp_count — identical char-class
    * semantics cross-engine), sentences via `[.!?]+` runs floored at 1.
    * All three inputs are exact ints; the score is the fixed tree
    * 206.835 − 1.015·(w/s) − 84.6·(syl/w), quantized ·1e3 (NULL when
    * wordless). Pure codegen expressions — the audit rides the scan. */
  def readability(text: Column): Seq[(String, Column)] = {
    val nWords = tokenCount(text).cast("long")
    val nSyll = regexp_count(lower(coalesce(text, lit(""))),
      lit("[aeiouy]+")).cast("long")
    val nSent = greatest(
      regexp_count(coalesce(text, lit("")), lit("[.!?]+")).cast("long"),
      lit(1L))
    val flesch = when(nWords > 0L,
      floor((lit(206.835) -
        lit(1.015) * (nWords.cast("double") / nSent.cast("double")) -
        lit(84.6) * (nSyll.cast("double") / nWords.cast("double"))) * 1e3)
        .cast("long"))
    Seq("n_words" -> nWords, "n_syllables" -> nSyll,
      "n_sentences" -> nSent, "flesch_x3" -> flesch)
  }

  /** One canonical greedy left-to-right BPE merge applied in-row: replace
    * every non-overlapping (l, r) adjacency in `syms` with the merged
    * symbol, scanning left to right (so a run "a a a" under pair (a, a)
    * yields [aa, a], the textbook resolution). Implemented as an
    * `aggregate` fold with a (out, carry) struct accumulator — a pure
    * higher-order expression, no UDF; interpreted evaluation is fine
    * because it runs on the |vocab|-row word table, never the corpus. */
  private def mergePairFold(syms: Column, l: String, r: String): Column = {
    def st(out: Column, carry: Column) =
      struct(out.as("out"), carry.as("carry"))
    val nil = lit(null).cast("string")
    aggregate(syms,
      st(lit(Array.empty[String]), nil),
      (acc, x) => {
        val out = acc.getField("out"); val carry = acc.getField("carry")
        when(carry.isNull, st(out, x))
          .when(carry === lit(l) && x === lit(r),
            st(concat(out, array(lit(l + r))), nil))
          .otherwise(st(concat(out, array(carry)), x))
      },
      acc => when(acc.getField("carry").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"),
          array(acc.getField("carry")))))
  }

  /** UTF-8 binary string order == codepoint order — the ordering Spark's
    * UTF8String comparator (and DuckDB's collation) applies in the
    * distributed tie-break, which DIFFERS from Scala's UTF-16 code-unit
    * `<` for supplementary characters vs U+E000..U+FFFF. The local merge
    * loop must match it exactly. */
  private def cpLt(a: String, b: String): Boolean = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    a.length - i < b.length - j // strict prefix sorts first
  }

  /** In-JVM replica of one [[mergePairFold]] pass — greedy left-to-right
    * non-overlapping merge, provably the same output (both consume the
    * leftmost (l,r) occurrence first and never re-match across a fresh
    * merge). */
  private def mergeLocal(syms: Array[String], l: String, r: String)
      : Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Distributed BPE TRAINER: the full count→merge→re-segment loop, not
    * just one round of pair counts. Classic byte-pair encoding over
    * whitespace-normalized words: each round counts adjacent symbol
    * pairs weighted by word frequency, picks the most frequent (ties:
    * count desc, then left asc, right asc in UTF-8 binary order —
    * deterministic cross-engine), merges it everywhere (greedy
    * left-to-right, [[mergePairFold]]), and records the merge. Training
    * stops early when no pairs remain. Symbols are seeded per CODEPOINT
    * (regexp '.' extraction, matching the relational oracle) — a
    * UTF-16 split would shear supplementary characters (emoji, rare
    * CJK) into lone surrogates.
    *
    * Scale shape — a two-tier hybrid keyed on vocabulary size, because
    * the state after the first aggregate is a \|vocab\|-row table
    * (KBs–MBs under Heaps' law even for TB corpora) while a REAL
    * tokenizer build is 10k–50k merge rounds:
    *
    *  - The corpus is always scanned ONCE (distributed) to build the
    *    word-frequency table — the only corpus-sized work.
    *  - \|vocab\| ≤ `BpeLocalVocabMax` (262144 rows):
    *    the table is collected once and the entire merge loop runs
    *    in-JVM — merges=1000 costs seconds, not 1000 scheduled jobs
    *    (the adaptive union-find precedent in [[Dedup.componentsAuto]]).
    *  - Larger vocabularies fall back to the distributed loop with
    *    BATCHED merge selection: each super-round is one pair-count
    *    aggregate + one (batchTopK+1)-row collect, and the driver
    *    accepts the longest SYMBOL-DISJOINT PREFIX of the sorted
    *    candidate list, trimmed to counts STRICTLY above the first
    *    excluded candidate (`BpeBatchTopK`, 64; 1 =
    *    one-merge-per-job). This batch is PROVABLY sequential-
    *    equivalent: (a) old pairs never gain occurrences (new
    *    adjacencies always involve a new symbol) and disjointness keeps
    *    every accepted pair's count unchanged, so accepted merges apply
    *    at their recorded counts; (b) every non-accepted old pair ranks
    *    at or below the excluded candidate, whose count the strict trim
    *    puts below every accepted count — no tie can promote it
    *    mid-batch; (c) any pair CREATED mid-batch maps occurrence-for-
    *    occurrence onto a pre-batch old pair sharing a symbol with an
    *    accepted merge — such a pair is necessarily non-accepted
    *    (disjointness), so created counts are also < every accepted
    *    count. When the trim empties the batch (top ties overlap), the
    *    argmax alone is applied — that IS the sequential step, so
    *    progress is guaranteed. Fully-merged single-symbol words drop
    *    from the state each super-round.
    *  - DELTA-MAINTAINED pair counts: the pair-count table is seeded
    *    by ONE corpus-sized aggregate and thereafter maintained
    *    incrementally — each round withdraws (−freq) the old pairs and
    *    asserts (+freq) the new pairs of exactly the words the fold
    *    changed, then folds the signed delta into the maintained
    *    (l, r, n) frame. Per-round
    *    shuffle drops from Θ(all adjacent positions) to Θ(touched
    *    positions) + the V₂-row table update — the decisive term in the
    *    overlap-bounded regime where batching degrades to ~1 merge per
    *    round. Exact by construction (integer sums; a word's
    *    contribution moves atomically in one aggregate), pinned
    *    batched ≡ sequential ≡ in-JVM by the tier-forcing spec.
    *
    * The two tiers are exactly equivalent (same greedy fold, same
    * UTF-8-order tie-break, same early stop) — pinned by specs that
    * force the distributed tier and vary the batch width through the
    * `private[ops]` overload taking `localVocabMax` and `batchTopK`.
    *
    * @param corpus frame with a text column
    * @param merges maximum number of merge rounds (the vocab-size knob:
    *               final vocab = chars + merges)
    * @return ordered merge table (round, lhs, rhs, pair_count) — the
    *         artifact a tokenizer builds its vocab from
    */
  def bpeTrain(corpus: DataFrame, merges: Int,
      textCol: String = "text"): DataFrame =
    bpeTrain(corpus, merges, textCol, BpeLocalVocabMax, BpeBatchTopK)

  /** Vocabulary size (word-table rows) up to which [[bpeTrain]] merges in-JVM. */
  private val BpeLocalVocabMax = 262144L
  /** Merge candidates one distributed [[bpeTrain]] super-round considers. */
  private val BpeBatchTopK = 64

  /** [[bpeTrain]] with the tier threshold and batch width explicit — specs
    * force the distributed tier (`localVocabMax = 0`) and vary the batch. */
  private[ops] def bpeTrain(corpus: DataFrame, merges: Int, textCol: String,
      localVocabMax: Long, batchTopK: Int): DataFrame = {
    require(merges >= 1, "bpeTrain needs at least one merge round")
    val spark = corpus.sparkSession
    import spark.implicits._
    var words = corpus
      .select(explode(split(Dedup.normalized(
        coalesce(col(textCol), lit(""))), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(expr("regexp_extract_all(w, '.', 0)").as("syms"), col("freq"))
      .localCheckpoint()
    if (words.count() <= localVocabMax) { // control-plane scalar off the checkpoint
      val collected = words.as[(Array[String], Long)].collect()
      return bpeTrainLocal(collected, merges).toDF(
        "round", "lhs", "rhs", "pair_count")
    }
    require(batchTopK >= 1, "bpeTrain batchTopK must be >= 1")
    // Signed adjacent-pair structs of a symbol array — the unit both the
    // full aggregate and the delta maintenance count in.
    def pairStructs(syms: Column, d: Column): Column =
      zip_with(
        slice(syms, lit(1), size(syms) - 1),
        slice(syms, lit(2), size(syms) - 1),
        (a, b) => struct(a.as("l"), b.as("r"), d.as("d")))
    // The maintained V₂-row (l, r, n) frame (invariant: ≡ the full
    // aggregate over the CURRENT word table, exact integer sums).
    var pairCounts = words
      .select(explode(pairStructs(col("syms"), col("freq"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("p.d")).as("n"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= merges && !exhausted) {
      val want = merges - round + 1
      val k = math.min(batchTopK, want)
      val top = pairCounts
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(k + 1) // +1: the first excluded candidate bounds the trim
        .as[(String, String, Long)]
        .collect() // ≤ batchTopK+1 rows — control-plane
      if (top.isEmpty) exhausted = true
      else {
        // longest symbol-disjoint prefix of the (count desc, l, r) order…
        val used = scala.collection.mutable.HashSet.empty[String]
        val prefix = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        var i = 0
        var stopped = false
        while (i < top.length && prefix.size < k && !stopped) {
          val (l, r, _) = top(i)
          if (used(l) || used(r)) stopped = true
          else { prefix += top(i); used += l; used += r; i += 1 }
        }
        // …trimmed STRICTLY above the first excluded candidate (list
        // exhausted without overlap ⇒ every pair was seen and accepted —
        // no overlapping pair exists to create a competitor ⇒ bound 0)
        val nStop = if (i < top.length) top(i)._3 else 0L
        var batch = prefix.takeWhile(_._3 > nStop).toSeq
        if (batch.isEmpty) batch = prefix.take(1).toSeq // argmax = seq step
        batch.foreach { case (l, r, n) =>
          out += ((round.toLong, l, r, n)); round += 1
        }
        val foldExpr = batch.foldLeft(col("syms")) { case (c, (l, r, _)) =>
          mergePairFold(c, l, r)
        }
        // One checkpoint holds (old, new) so the fold runs once and
        // both the next word table and the delta derive from it.
        val folded = words
          .select(col("syms"), foldExpr.as("nsyms"), col("freq"))
          .localCheckpoint()
        val delta = folded
          .filter(col("nsyms") =!= col("syms"))
          .select(explode(concat(
            pairStructs(col("syms"), -col("freq")),
            pairStructs(col("nsyms"), col("freq")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("p.d")).as("d"))
          .filter(col("d") =!= 0)
        pairCounts = pairCounts
          .join(delta, Seq("l", "r"), "full_outer")
          .select(col("l"), col("r"),
            (coalesce(col("n"), lit(0L)) +
              coalesce(col("d"), lit(0L))).as("n"))
          .filter(col("n") > 0) // a fully-withdrawn pair is dead
          .localCheckpoint()
        // Projection of the checkpointed frame — no second job.
        words = folded
          .select(col("nsyms").as("syms"), col("freq"))
          .filter(size(col("syms")) >= 2) // fully-merged words are dead
      }
    }
    out.toSeq.toDF("round", "lhs", "rhs", "pair_count")
  }

  /** The in-JVM tier of [[bpeTrain]]'s merge loop: same recurrence on a
    * collected word-frequency table. Pair counts accumulate in one hash
    * map per round; the winner is (count desc, l, r) in UTF-8 binary
    * order ([[cpLt]]) — bit-identical to the distributed orderBy. */
  private[ops] def bpeTrainLocal(words0: Array[(Array[String], Long)],
      merges: Int): Seq[(Long, String, String, Long)] = {
    var words = words0
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= merges && !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      for ((syms, freq) <- words) {
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + freq
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        for (e <- counts) {
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (cpLt(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && cpLt(e._1._2, best._1._2)))))
            best = e
        }
        val ((l, r), n) = best
        out += ((round.toLong, l, r, n))
        words = words.map { case (syms, freq) =>
          (mergeLocal(syms, l, r), freq)
        }
        round += 1
      }
    }
    out.toSeq
  }

  /** Distributed BPE APPLY (tokenize and count): segments every word of
    * the corpus under an ORDERED merge table — the [[bpeTrain]]
    * artifact — and returns per-document word/token counts, the
    * token-budget statistic a training-data pipeline prices every
    * document with (fertility = n_tokens/n_words at the caller).
    *
    * Semantics: replay the merges in recorded round order, each applied
    * greedy left-to-right ([[mergeLocal]] — the identical fold the
    * trainer's re-segment step uses), symbols seeded per CODEPOINT.
    * Replay order matters (a later merge may consume an earlier one's
    * output symbol) and is the contract the relational oracle unrolls.
    *
    * Scale shape — the trainer's cost model inverted: segmentation work
    * is VOCAB-sized, never corpus-sized. The corpus explodes to (id,
    * word) occurrence rows; the distinct vocabulary (KBs–MBs under
    * Heaps' law for TB corpora) is segmented once per distinct word in
    * a `mapPartitions` batch seam (the [[Multimodal]] precedent) with
    * the merge table shipped in the closure — a control-plane payload
    * bounded by the merge count, same contract as the trainer's 1-row
    * collects. Per word the replay skips any merge whose fused string
    * is not a substring of the word (exact: symbols are always
    * contiguous substrings, so an adjacent (l,r) implies l+r occurs) —
    * O(merges · |w|) scan bound per DISTINCT word. The occurrence
    * frame then joins the (word → n_toks) map — AQE broadcasts the
    * vocab side — and aggregates per document. The documents scan runs
    * twice (vocab + join-back): materializing the corpus-sized word
    * frame costs more than re-deriving the cheap codegen explode (the
    * q200/q139 recompute rule).
    *
    * Documents with no words (null/empty text) are absent from the
    * output, matching the relational join the oracle runs.
    *
    * @param merges ordered merge table with (round, lhs, rhs) — extra
    *               columns ignored; null lhs/rhs raise
    * @return (idCol, n_words, n_tokens) one row per document with ≥1 word
    */
  def bpeSegmentCounts(corpus: DataFrame, merges: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val mergeList: Array[(String, String)] = merges
      .select(col("round").cast("long"), col("lhs"), col("rhs"))
      .orderBy(col("round"))
      .as[(Long, String, String)].collect()
      .map { case (_, l, r) =>
        require(l != null && r != null,
          "bpeSegmentCounts: null lhs/rhs in the merge table")
        (l, r)
      }
    val words = corpus.select(col(idCol).as("__id"),
        explode(split(Dedup.normalized(
          coalesce(col(textCol), lit(""))), " ")).as("w"))
      .filter(length(col("w")) >= 1)
    val seg = words.select(col("w")).distinct().as[String]
      .mapPartitions { it =>
        it.map(w => (w, segmentLocal(w, mergeList).toLong))
      }.toDF("w", "n_toks")
    words.join(seg, "w")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_tokens"))
      .select(col("__id").as(idCol), col("n_words"), col("n_tokens"))
  }

  /** BPE TOKENIZE-TO-IDS — the last step of a real training-data writer
    * (the round-7 verdict's depth item #3): emit each document's token-ID
    * SEQUENCE under the merge table, so training shards carry actual
    * token streams, not just counts.
    *
    * Vocabulary contract (deterministic, engine-independent):
    *   - base symbols = the DISTINCT single-codepoint symbols of the
    *     corpus's distinct words, sorted by binary (UTF-8) order, ids
    *     0..B−1 — the same id map any engine derives from the same
    *     corpus;
    *   - merge products get id B + round − 1 in merge-table order; a
    *     fused string that re-appears under a later round keeps its
    *     FIRST id (token identity is the symbol STRING, as in any real
    *     tokenizer).
    * The base-symbol map is codepoint-bounded (control-plane by nature)
    * but guarded anyway: more than `graft.bpe.maxBaseVocab` (default
    * 65 536) distinct base symbols fails with a named error.
    *
    * Scale shape: [[bpeSegmentCounts]]' exact cost model — the distinct
    * vocabulary segments once per distinct word in a mapPartitions batch
    * seam with (merge table + symbol map) in the closure, then the
    * (doc, pos, word) occurrence frame joins the slim (word → ids) map
    * and reassembles per document with one sort-by-position aggregate.
    * Documents with no words are absent, matching the relational join.
    *
    * @return (idCol, n_tokens, ids) — ids in document word order
    */
  def bpeTokenIds(corpus: DataFrame, merges: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val mergeList: Array[(String, String)] = merges
      .select(col("round").cast("long"), col("lhs"), col("rhs"))
      .orderBy(col("round"))
      .as[(Long, String, String)].collect()
      .map { case (_, l, r) =>
        require(l != null && r != null,
          "bpeTokenIds: null lhs/rhs in the merge table")
        (l, r)
      }
    val words = corpus.select(col(idCol).as("__id"),
        posexplode(split(Dedup.normalized(
          coalesce(col(textCol), lit(""))), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) >= 1)
    val distinctW = words.select(col("w")).distinct().localCheckpoint()
    // base vocabulary: distinct codepoint symbols, binary-sorted. The
    // explode is over the DISTINCT words (Heaps'-law-sized), the result
    // is codepoint-bounded; the cap makes the control-plane contract loud.
    val cap = spark.conf.get("graft.bpe.maxBaseVocab", "65536").toInt
    // CODEPOINT symbols via the same JVM split the segmenter uses
    // (expression-side split("") is UTF-16-unit-grained and would shear
    // surrogate pairs out of lockstep with segmentSymsLocal)
    val baseSyms = distinctW.as[String]
      .flatMap(w => w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))))
      .distinct().orderBy(col("value")).limit(cap + 1)
      .as[String].collect()
    require(baseSyms.length <= cap,
      s"bpeTokenIds: base vocabulary exceeds graft.bpe.maxBaseVocab=$cap " +
        "distinct codepoint symbols — not natural text; raise the conf " +
        "if the codepoint diversity is genuinely intended")
    val ids = symbolIds(baseSyms, mergeList)
    val seg = distinctW.as[String]
      .mapPartitions(_.map(w => (w, ids(segmentSymsLocal(w, mergeList)))))
      .toDF("w", "wids")
    words.join(seg, "w")
      .groupBy(col("__id"))
      .agg(flatten(array_sort(collect_list(struct(col("pos"), col("wids"))))
        .getField("wids")).as("ids"))
      .select(col("__id").as(idCol),
        size(col("ids")).cast("long").as("n_tokens"), col("ids"))
  }

  /** The token-id lookup of a BPE vocabulary: base symbols take ids
    * 0…b−1 in order, merge products b+i in round order (the first round
    * wins on re-fusions). Every symbol of a segmented corpus word is a
    * codepoint or a merge product, so a symbol outside the vocabulary is
    * a named error, never a silent id. */
  private[ops] def symbolIds(baseSyms: Array[String],
      merges: Array[(String, String)]): Array[String] => Seq[Long] = {
    val symId = new java.util.HashMap[String, java.lang.Long]()
    baseSyms.zipWithIndex.foreach { case (s, i) => symId.put(s, i.toLong) }
    val b = baseSyms.length.toLong
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      symId.putIfAbsent(l + r, b + i)
    }
    syms => syms.map { s =>
      val v = symId.get(s)
      if (v == null) throw new IllegalStateException(
        s"bpeTokenIds: symbol '$s' missing from the vocabulary map")
      v.longValue()
    }.toSeq
  }

  /** One word through the ordered merge replay: codepoint symbols, then
    * [[mergeLocal]] per merge in round order, with the exact substring
    * skip (adjacent (l,r) in any segmentation state implies l+r is a
    * contiguous substring of the original word). Returns the final
    * symbol sequence. */
  private[ops] def segmentSymsLocal(w: String,
      merges: Array[(String, String)]): Array[String] = {
    var syms: Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var k = 0
    while (k < merges.length) {
      val (l, r) = merges(k)
      if (syms.length >= 2 && w.contains(l + r))
        syms = mergeLocal(syms, l, r)
      k += 1
    }
    syms
  }

  /** [[segmentSymsLocal]]'s final symbol count. */
  private[ops] def segmentLocal(w: String,
      merges: Array[(String, String)]): Int =
    segmentSymsLocal(w, merges).length

  /** BPE-ish subword count estimate: word-boundary pieces plus an extra
    * piece per 6 chars of long words (common ~4 chars/token heuristic,
    * without a vocab file). */
  def subwordCountEstimate(text: Column): Column = {
    val pieces = transform(toks(text), t => greatest(ceil(length(t) / 6.0), lit(1L)))
    // blank text → 0, consistent with tokenCount (split('') yields [''],
    // which would otherwise count as one piece)
    when(trim(text) === "" || text.isNull, 0L)
      .otherwise(coalesce(aggregate(pieces, lit(0L), (a, x) => a + x), lit(0L)))
  }

  /** Stopword hit count for one language's marker set (duplicates count —
    * frequency matters for language evidence). */
  private def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(toks(text), t => t.isin(words.map(lit(_)): _*)))

  /** Public face of the per-language stopword hit count — the raw integer
    * language-evidence feature behind [[langId]], exposed for feature
    * vectors (e.g. [[Regression.perceptronTrain]] classifiers). */
  def stopwordHitCount(text: Column, lang: String): Column =
    stopwordHits(text, stopwords(lang))

  /** Zipf rank-frequency fit — the corpus-health diagnostic: OLS slope of
    * ln(count) against ln(rank) over the token frequency spectrum
    * (natural text sits near −1; machine-generated/boilerplate corpora
    * bend the curve). Ranks are TIE-AVERAGED per count value (the
    * kruskalWallis doubled-rank discipline): all k_n tokens sharing count
    * n get the midpoint rank, kept exact as the integer
    * r2 = 2·prefix + k_n + 1 (doubled), so the fit runs over the COUNT
    * SPECTRUM — one point per distinct count value — not per token.
    *
    * Determinism: ranks/counts are exact integers; ln is evaluated on
    * exact-in-double inputs and quantized ·10⁶ (the transition-entropy
    * ln-parity precedent), and the OLS is [[Regression.trendFit]]'s fixed
    * double tree over exact long sums. ·10⁶ keeps Σx² within int64 for
    * spectra up to ~10⁴ distinct count values (ln ≤ ~30 → x ≤ 3e7,
    * x² ≤ 9e14); the closing (Σx)²-class products blow int64 at ~10²
    * points already, which is why trendFit evaluates them in
    * DECIMAL(38,0) — that, not Σx², was the binding budget here.
    *
    * Scale shape: one token explode to (token, count) — the only
    * corpus-sized pass — then the spectrum (distinct count values, a
    * Heaps-sublinear axis) flows through [[Packing.packSequences]]'s
    * two-phase prefix sum for the descending rank offsets: no global
    * window anywhere, per the house rule.
    *
    * @return one row: (n_points, slope, intercept) — slope/intercept of
    *         ln(count) ≈ slope·ln(rank) + intercept */
  def zipfFit(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = docs.select(explode(toks(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val spectrum = counts.groupBy(col("n")).agg(count(lit(1)).as("k"))
      .withColumn("__negn", -col("n"))
      .localCheckpoint() // prefix pass + the k join-back both read it
    val pre = Packing.prefixSum(spectrum, "n", "k", Seq("__negn"), "prefix")
      .select(col("n"), col("prefix"))
    val pts = pre.join(spectrum.select(col("n"), col("k")), Seq("n"))
      .select(
        floor(log((col("prefix") * 2 + col("k") + 1).cast("double") / lit(2.0))
          * 1e6).cast("long").as("lnr_x6"),
        floor(log(col("n").cast("double")) * 1e6).cast("long").as("lnn_x6"))
    Regression.trendFit(pts.withColumn("__g", lit(1)), Seq("__g"),
        col("lnr_x6"), col("lnn_x6"))
      .select(col("n").as("n_points"), col("slope"), col("intercept"))
  }

  /** The en-vs-rest language-filter feature vector (integer, exact on any
    * engine): en-stopword hits, other-language stopword hits, token
    * count, digit count — the feature vector of the batch trainer
    * query (q245). */
  def langFilterFeatures(text: Column): Seq[Column] = Seq(
    stopwordHitCount(text, "en"),
    stopwordHitCount(text, "de") + stopwordHitCount(text, "es") +
      stopwordHitCount(text, "fr"),
    tokenCount(text),
    length(text) - length(regexp_replace(text, "[0-9]", "")))

  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "un", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "des"))

  /** n-gram/stopword heuristic language ID with a fixed priority order
    * (en > de > es > fr) on ties; 'und' (undetermined) when no evidence. */
  def langId(text: Column): Column = {
    val en = stopwordHits(text, stopwords("en"))
    val de = stopwordHits(text, stopwords("de"))
    val es = stopwordHits(text, stopwords("es"))
    val fr = stopwordHits(text, stopwords("fr"))
    when(greatest(en, de, es, fr) === 0, "und")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Quality features + a composite score ∈ [0,1]: length, token stats,
    * punctuation/digit/uppercase ratios, stopword density. Per-row double
    * arithmetic — deterministic. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("double")
    val nToks = tokenCount(text).cast("double")
    val punct = (nChars - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double")
    val digits = (nChars - length(regexp_replace(text, "[0-9]", ""))).cast("double")
    val uppers = (nChars - length(regexp_replace(text, "[A-Z]", ""))).cast("double")
    val stops = stopwordHits(text, stopwords.values.flatten.toSeq).cast("double")
    val safeChars = greatest(nChars, lit(1.0))
    val safeToks = greatest(nToks, lit(1.0))
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nToks,
      "avg_token_len" -> (length(regexp_replace(Dedup.normalized(text), " ", "")).cast("double") / safeToks),
      "punct_ratio" -> (punct / safeChars),
      "digit_ratio" -> (digits / safeChars),
      "upper_ratio" -> (uppers / safeChars),
      "stopword_ratio" -> (stops / safeToks))
  }

  /** Composite quality score: in-range token count, sane word lengths, some
    * stopword mass — multiplied by a noise penalty so digit/punct-heavy
    * garbage scores near 0 even when its length/shape look fine. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val lenOk = when(f("n_tokens") >= 10 && f("n_tokens") <= 100000, 1.0).otherwise(0.0)
    val wordOk = when(f("avg_token_len") >= 2 && f("avg_token_len") <= 12, 1.0).otherwise(0.0)
    val stopOk = least(f("stopword_ratio") * 5, lit(1.0))
    val noise = least(f("digit_ratio") * 5 + f("punct_ratio") * 5, lit(1.0))
    (lenOk * 0.3 + wordOk * 0.3 + stopOk * 0.4) * (lit(1.0) - noise)
  }

  /** Deterministic document fingerprint: polynomial rolling hash of the
    * normalized text's code points, mod 2^53 (stays exact in BIGINT on
    * every engine — no overflow wraparound semantics to disagree on).
    * Delegates to the native codegen Expression; code-point iteration
    * (not UTF-16 units) matches DuckDB's per-character `ascii()`, so the
    * oracle parity holds beyond the BMP too. */
  def fingerprint(text: Column): Column =
    graft.functions.RollingFingerprint(Dedup.normalized(text))

  /** Email pattern — kept inside the RE2 ∩ java.util.regex common subset
    * (character classes and bounded quantifiers only, no lookaround) so
    * external engines reproduce the scrub verbatim. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** URL pattern (scheme-anchored, runs to whitespace). */
  val urlRe = "https?://[^ \\t\\n]+"
  /** Long digit runs — phone/account/SSN-ish identifiers. */
  val longDigitsRe = "[0-9]{9,}"

  /** PII counts on the RAW text (pre-scrub): emails, URLs, long digit
    * runs. */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(emailRe)),
    "n_urls" -> regexp_count(text, lit(urlRe)),
    "n_long_digits" -> regexp_count(text, lit(longDigitsRe)))

  /** C4/RefinedWeb-style PII scrub: redact emails, then URLs, then long
    * digit runs (emails first — they contain dots and digits the later
    * patterns could split). A pure regexp_replace chain: codegen'd,
    * zero-shuffle, safe in streaming plans. */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, emailRe, "<EMAIL>")
    val noUrl = regexp_replace(noEmail, urlRe, "<URL>")
    regexp_replace(noUrl, longDigitsRe, "<ID>")
  }

  /** Deterministic dataset-split bucket ∈ [0, 100): content-fingerprint mod
    * 100. Keyed on CONTENT (not row id or position), so the assignment is
    * stable under re-partitioning, re-ingestion order, and corpus growth —
    * the property a train/val/test split must have at corpus scale — and a
    * duplicated document can never land in both train and test. */
  def splitBucket(text: Column): Column = fingerprint(text) % 100

  /** Train/val/test label from [[splitBucket]]; default 80/10/10. */
  def splitLabel(text: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = splitBucket(text)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Repetition signals per document (Gopher/C4-style quality filters):
    * token count, distinct-token count, most-frequent-token fraction,
    * duplicate-token fraction, most-frequent-bigram fraction. High values
    * flag templated/spammy text that length and stopword filters miss.
    *
    * Two map-side-combinable aggregations over (id, gram) rows — the only
    * shuffled payload is short gram strings with partial counts, so the
    * plan holds at corpus scale. Fractions are exact-integer ratios
    * divided once in double — cross-engine deterministic.
    */
  def repetitionSignals(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tok = docs
      .select(col(idCol).as("id"),
        posexplode(split(Dedup.normalized(col(textCol)), " ")).as(Seq("pos", "t")))
    val tokStats = tok.groupBy(col("id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        max(col("c")).as("top_c"))
      .select(col("id"), col("n_tokens"), col("n_types"),
        (col("top_c").cast("double") / col("n_tokens").cast("double")).as("top_token_frac"),
        (lit(1.0) - col("n_types").cast("double") / col("n_tokens").cast("double")).as("dup_token_frac"))
    val w = Window.partitionBy("id").orderBy("pos")
    val bigramStats = tok
      .select(col("id"), concat_ws(" ", col("t"), lead(col("t"), 1).over(w)).as("g"),
        lead(col("t"), 1).over(w).isNotNull.as("__full"))
      .filter(col("__full"))
      .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg((max(col("c")).cast("double") / sum(col("c")).cast("double")).as("top_bigram_frac"))
    tokStats.join(bigramStats, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"), col("n_types"),
        col("top_token_frac"), col("dup_token_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Corpus-level boilerplate fraction: for each document, the fraction of
    * its DISTINCT word-3-gram shingles whose document frequency is at least
    * `minDf` (CCNet/Dolma-style shared-content signal; near 1.0 marks
    * near-duplicates and boilerplate, near 0.0 unique prose).
    *
    * The document-frequency table is built over 64-bit shingle hashes from
    * the zero-shuffle kernel, so both the DF aggregation and the join back
    * move 8-byte keys, never shingle text. Boilerplate grams make the DF
    * side skewed at corpus scale — AQE skew-join handles the join; the DF
    * aggregation itself partial-aggregates map-side.
    */
  def commonNgramStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minDf: Int = 2): DataFrame = {
    // Clone-group pre-stage (Dedup's content groups): a shingle's document
    // frequency is the sum of the CLONE COUNTS of the distinct contents
    // containing it, so the explode and df join run over reps only and
    // per-doc results fan back through the slim (id, content key) table.
    val keyed = Dedup.contentKeyed(docs, textCol, idCol)
    val groups = Dedup.contentGroups(keyed, count(lit(1)).as("m"))
      .localCheckpoint()
    if (!Dedup.anyClones(groups, col("m")))
      return commonNgramStatsDirect(docs, textCol, idCol, minDf)
    val repIds = Dedup.hashedShingleSets(Dedup.repDocs(docs, groups, idCol),
        textCol, idCol)
      .select(col("id").as("rep"), explode(col("sh")).as("h"))
      .localCheckpoint()
    val dfTab = repIds.join(groups.select(col("rep"), col("m")), Seq("rep"))
      .groupBy(col("h")).agg(sum(col("m")).as("df"))
    val repStats = repIds.join(dfTab, Seq("h"))
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
    keyed.join(groups.select(col("ch"), col("rep")), Seq("ch"))
      .join(repStats, Seq("rep"))
      .select(col("id").as(idCol), col("n_shingles"),
        (col("n_common").cast("double") / col("n_shingles").cast("double")).as("common_frac"))
  }

  /** Per-doc top-`topK` distinctive terms by tf·idf-rank, integer-exact
    * (floor(tf·10⁶/df) — no log, so the order is cross-engine-identical).
    * Clone-group pre-stage like [[commonNgramStats]]: term frequencies are
    * a pure function of content, document frequency weights each distinct
    * content by its clone count, and the per-content top-k rows fan back
    * to every member — the token explode, both aggregates and the rank
    * window run over distinct contents only. All-unique corpora take the
    * direct path. */
  def distinctiveTerms(docs: DataFrame, topK: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keyed = Dedup.contentKeyed(docs, textCol, idCol)
    val groups = Dedup.contentGroups(keyed, count(lit(1)).as("m"))
      .localCheckpoint()
    if (!Dedup.anyClones(groups, col("m")))
      return distinctiveTermsDirect(docs, topK, textCol, idCol)
    val toks = Dedup.repDocs(docs, groups, idCol).select(col(idCol).as("rep"),
      explode(split(Dedup.normalized(col(textCol)), " ")).as("term"))
    val tf = toks.groupBy(col("rep"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val idf = tf.join(groups.select(col("rep"), col("m")), Seq("rep"))
      .groupBy(col("term")).agg(sum(col("m")).as("df"))
    val w = Window.partitionBy(col("rep"))
      .orderBy(floor((col("tf") * 1000000).cast("double") / col("df")).desc, col("term"))
    val top = tf.join(idf, Seq("term"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= topK)
    keyed.join(groups.select(col("ch"), col("rep")), Seq("ch"))
      .join(top, Seq("rep"))
      .select(col("id").as(idCol), col("term"), col("tf"), col("df"), col("rn"))
  }

  private def distinctiveTermsDirect(docs: DataFrame, topK: Int,
      textCol: String, idCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(Dedup.normalized(col(textCol)), " ")).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // df directly off tf — (id, term) is unique there, so the distinct
    // count is a plain count and the token explode runs ONCE, not twice
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(floor((col("tf") * 1000000).cast("double") / col("df")).desc, col("term"))
    tf.join(idf, Seq("term"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= topK)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rn"))
  }

  /** Context-window chunking: split each document into fixed-size token
    * windows with overlap — the pre-tokenization shard step of a training
    * pipeline (long docs must be cut to model context length; overlap
    * preserves cross-boundary spans). Tokens are whitespace-split RAW text
    * (case preserved — chunks carry content, unlike the normalized
    * analysis tokens); blank/null docs yield no chunks.
    *
    * Chunk i covers tokens [i·step, i·step + window) with
    * step = window − overlap; the last window is truncated at the doc
    * end. Output: (idCol, chunk_id, start_tok, n_tok, chunk_fp) where
    * chunk_fp is the rolling fingerprint of the space-rejoined window —
    * a content address for downstream chunk-level dedup.
    *
    * Scale shape: pure per-row expressions (split/sequence/posexplode/
    * slice — all codegen or vectorized), no shuffle, no UDF; fan-out is
    * bounded by n_tokens/step per doc. */
  def chunkTokens(docs: DataFrame, window: Int, overlap: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"need 0 <= overlap < window; got window=$window overlap=$overlap")
    val step = window - overlap
    val rawToks = split(regexp_replace(trim(col(textCol)), "\\s+", " "), " ")
    val n = size(rawToks).cast("long")
    // ceil((n-window)/step) via exact double division: operands < 2^53
    val nchunks = when(n <= window, lit(1L))
      .otherwise(lit(1L) +
        floor((n - window + step - 1).cast("double") / step).cast("long"))
    docs.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), rawToks.as("__toks"), n.as("__n"), nchunks.as("__nc"))
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(sequence(lit(0L), col("__nc") - 1)).as(Seq("__i", "__c")))
      .select(
        col(idCol),
        col("__c").cast("int").as("chunk_id"),
        (col("__c") * step).as("start_tok"),
        least(lit(window.toLong), col("__n") - col("__c") * step).as("n_tok"),
        graft.functions.RollingFingerprint(
          array_join(
            slice(col("__toks"), (col("__c") * step + 1).cast("int"),
              least(lit(window.toLong), col("__n") - col("__c") * step).cast("int")),
            " ")).as("chunk_fp"))
  }

  /** The direct (per-document) formulation — see [[commonNgramStats]]. */
  private def commonNgramStatsDirect(docs: DataFrame, textCol: String,
      idCol: String, minDf: Int): DataFrame = {
    // one shingle-kernel pass; (id, hash) rows feed BOTH the df aggregate
    // and the annotate join (otherwise the kernel runs twice)
    val ids = Dedup.hashedShingleSets(docs, textCol, idCol)
      .select(col("id"), explode(col("sh")).as("h"))
      .localCheckpoint()
    val dfTab = ids.groupBy(col("h")).agg(count(lit(1)).as("df"))
    ids.join(dfTab, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
      .select(col("id").as(idCol), col("n_shingles"),
        (col("n_common").cast("double") / col("n_shingles").cast("double")).as("common_frac"))
  }

  /** Class-based TF-IDF (the BERTopic "c-TF-IDF"): treat each class
    * (cluster label, source, language) as ONE pseudo-document and rank
    * the terms that distinguish it — topic/segment characterization over
    * an already-clustered corpus, where [[distinctiveTerms]] ranks within
    * a single document. score = tf_c · floor(ln(1 + A/f_t)·1e6) with A =
    * avg tokens per class and f_t the corpus term frequency — a LONG, so
    * ranking is cross-engine exact (same quantized-ln discipline as the
    * BM25 IDF; the raw double rides along for readability).
    *
    * Scale: the exploded token stream aggregates once into (class, term)
    * counts — everything downstream (corpus term totals, class totals, A)
    * derives from that slim frame; the per-class top-k is a rank window
    * over |classes|·|vocab| rows, not tokens. */
  def classTfidf(docs: DataFrame, classCol: String, topK: Int = 5,
      textCol: String = "text"): DataFrame = {
    val ct = docs.select(col(classCol).as("class"),
        explode(split(Dedup.normalized(coalesce(col(textCol), lit(""))), " ")).as("term"))
      .groupBy(col("class"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint() // one token pass; three consumers below
    val ft = ct.groupBy(col("term")).agg(sum(col("tf")).as("f_t"))
    val a = ct.agg((sum(col("tf")).cast("double") /
      countDistinct(col("class"))).as("avg_class_toks"))
    val scored = ct.join(ft, Seq("term")).crossJoin(broadcast(a))
      .withColumn("w6",
        floor(log(lit(1.0) + col("avg_class_toks") / col("f_t")) * 1e6).cast("long"))
      .withColumn("score_x6", col("tf") * col("w6"))
    val w = Window.partitionBy(col("class"))
      .orderBy(col("score_x6").desc, col("term"))
    scored.withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= topK)
      .select(col("class"), col("term"), col("tf"), col("f_t"),
        col("score_x6"), col("rn"))
  }

  /** Adjacent-bigram PMI collocations: ln((n12·N)/(n1·n2)) over the
    * corpus's bigram stream — the classic association measure that finds
    * multi-word expressions ("new york") for tokenizer/phrase-vocab prep.
    * `minCount` drops the unstable low-frequency tail FIRST (PMI's known
    * bias), so the expensive joins see only surviving bigrams. The PMI
    * ratio is a division of exact integer products (counts are bounded by
    * the bigram total, so n1·n2 < 2^63 long before any realistic corpus
    * overflows ln's useful range); both engines perform the identical
    * IEEE divide+ln, quantized floor(·1e6) for the rank. Top-k is a
    * TakeOrdered.
    *
    * @return (t1, t2, n12, pmi_x6) — top `topK` by (pmi_x6 desc, t1, t2)
    */
  def pmiPairs(docs: DataFrame, minCount: Int = 5, topK: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toksArr = docs.select(
        split(Dedup.normalized(coalesce(col(textCol), lit(""))), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
    val bg = toksArr.select(explode(expr(
        "transform(sequence(0, size(ts)-2), i -> struct(ts[i] AS t1, ts[i+1] AS t2))")).as("b"))
      .select(col("b.t1"), col("b.t2"))
      .localCheckpoint() // one tokenize+explode pass; four consumers
    val c12 = bg.groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= minCount)
    val c1 = bg.groupBy(col("t1")).agg(count(lit(1)).as("n1"))
    val c2 = bg.groupBy(col("t2")).agg(count(lit(1)).as("n2"))
    val n = bg.agg(count(lit(1)).as("nn"))
    c12.join(c1, Seq("t1")).join(c2, Seq("t2")).crossJoin(broadcast(n))
      .withColumn("pmi_x6", floor(log(
        (col("n12") * col("nn")).cast("double") / (col("n1") * col("n2")))
        * 1e6).cast("long"))
      .orderBy(col("pmi_x6").desc, col("t1"), col("t2")).limit(topK)
      .select(col("t1"), col("t2"), col("n12"), col("pmi_x6"))
  }

  /** Windowed skip-gram co-occurrence counts (the word2vec/GloVe
    * statistic): every ordered token pair within `window` positions,
    * weighted 1/distance — quantized to `1000000 div d` so the weight
    * sum is an exact long. The pair expansion is IN-ROW (one fixed-size
    * concat of position-shifted transforms per document — q102's
    * no-join discipline): nothing position-level ever crosses an
    * exchange, only (t1, t2) pair counts. Top-k is a TakeOrdered.
    *
    * @return (t1, t2, n_pairs, w_x6) — top `topK` by (w_x6 desc, t1, t2)
    */
  def skipgramCooc(docs: DataFrame, window: Int = 3, topK: Int = 30,
      textCol: String = "text"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val toks = docs.select(
      split(Dedup.normalized(coalesce(col(textCol), lit(""))), " ").as("ts"))
    val pairTyp = "array<struct<t1:string,t2:string,w6:bigint>>"
    val perDist = (1 to window).map { j =>
      when(size(col("ts")) > j, expr(
        s"""transform(sequence(0, size(ts)-1-$j),
           |  i -> struct(ts[i] AS t1, ts[i+$j] AS t2,
           |              CAST(${1000000 / j} AS BIGINT) AS w6))""".stripMargin))
        .otherwise(lit(null).cast(pairTyp))
    }
    // docs shorter than a distance yield a typed-null slot — drop those
    // and flatten the survivors (concat would null the whole row)
    toks.select(explode(flatten(
        filter(array(perDist: _*), c => c.isNotNull))).as("p"))
      .select(col("p.t1"), col("p.t2"), col("p.w6"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("w6")).as("w_x6"))
      .orderBy(col("w_x6").desc, col("t1"), col("t2")).limit(topK)
  }
}
