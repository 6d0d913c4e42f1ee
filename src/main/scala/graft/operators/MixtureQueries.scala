package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{Dedup, Mixture, TextAnalysis}

/** Data-mixture planning queries (ops/Mixture + the cross-corpus dedup
  * face of ops/Dedup): temperature-scaled source allocation, deterministic
  * epoch shuffles, curriculum buckets, corpus-vs-corpus near-dup audit —
  * the "which data, in what proportion, in what order" layer of a
  * training-data pipeline. */
object MixtureQueries {
  import LlmQueries.{fpSql, normSql, qualitySql, shSetSqlFrom, toksSql}

  private val ntSql =
    s"CAST(CASE WHEN trim(text) = '' OR text IS NULL THEN 0 ELSE len($toksSql) END AS BIGINT)"

  // ---------------------------------------------------------------- q105
  // Temperature-scaled source mixture (alpha=0.5): per-source token mass →
  // sqrt-scaled sampling weights and an integer token allocation for a
  // 100k-token budget. The sqrt basis quantizes to longs (floor(sqrt·1e6)),
  // so weights/allocations are cross-engine exact — see
  // Mixture.temperatureAllocation's exactness contract.
  private def q105(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(
      $"source", TextAnalysis.tokenCount($"text").cast("long").as("nt"))
    Mixture.temperatureAllocation(docs, $"source", $"nt",
        alpha = 0.5, budgetTokens = 100000L)
      .withColumnRenamed("group", "source")
      .orderBy($"source")
  }
  private val q105Sql =
    s"""WITH t AS (SELECT source, $ntSql AS nt FROM documents),
       |s AS (SELECT source, COUNT(*) AS n_docs,
       |        CAST(SUM(nt) AS BIGINT) AS n_tokens
       |      FROM t GROUP BY source),
       |b AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS basis
       |      FROM s),
       |tot AS (SELECT CAST(SUM(basis) AS BIGINT) AS basis_total FROM b)
       |SELECT source, n_docs, n_tokens,
       |  CAST(basis AS DOUBLE) / CAST(basis_total AS DOUBLE) AS weight,
       |  CAST(100000 * basis // basis_total AS BIGINT) AS alloc_tokens
       |FROM b, tot ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q106
  // Deterministic 2-epoch corpus shuffle: per-epoch dense positions under
  // md5_low64(doc_id ':' epoch) order (≡ DuckDB md5_number_lower — a real
  // mixing hash; a rolling fingerprint would be order-preserving here).
  // The oracle replays each epoch's permutation with a windowed
  // row_number — exactly the single-partition plan the two-phase operator
  // refuses to produce at scale.
  private def q106(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Mixture.epochShuffle(Tables.documents(s, d), "doc_id", epochs = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy($"epoch", $"doc_id")
  }
  private val q106Sql =
    s"""WITH e AS (SELECT unnest([0, 1]) AS epoch),
       |d AS (SELECT e.epoch, doc_id,
       |        md5_number_lower(CAST(doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)) AS efp
       |      FROM documents, e)
       |SELECT epoch, doc_id,
       |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY efp, doc_id) - 1 AS BIGINT) AS pos
       |FROM d ORDER BY epoch, doc_id""".stripMargin

  // ---------------------------------------------------------------- q107
  // Quality-curriculum buckets: corpus ranked by quantized quality score
  // (descending, id tie-break), cut into 4 equal slices — bucket 0 is the
  // cleanest quartile a curriculum schedule consumes first.
  private def q107(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id",
      floor(TextAnalysis.qualityScore($"text") * 1e6).cast("long").as("q6"))
    Mixture.curriculumBuckets(docs, "doc_id", $"q6", k = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy($"doc_id")
  }
  private val q107Sql =
    s"""WITH t AS (SELECT doc_id,
       |        CAST(floor(($qualitySql) * 1e6) AS BIGINT) AS q6 FROM documents),
       |p AS (SELECT doc_id,
       |        CAST(row_number() OVER (ORDER BY -q6, doc_id) - 1 AS BIGINT) AS pos
       |      FROM t),
       |n AS (SELECT COUNT(*) AS n FROM t)
       |SELECT doc_id, pos, CAST(pos * 4 // n AS BIGINT) AS bucket
       |FROM p, n ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q108
  // Cross-corpus near-dup audit: snapshot A (doc_id % 3 = 0) vs snapshot B
  // (the rest), LSH-bucketed candidates + exact-verified Jaccard ≥ 0.5.
  // Same recall argument as q41: at k=64/b=16 the synthetic corpus has no
  // pairs in the banding's miss window, so the brute-force oracle is
  // reproduced exactly.
  private def q108(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    Dedup.crossCorpusPairs(
        docs.filter($"doc_id" % 3 === 0), docs.filter($"doc_id" % 3 =!= 0),
        threshold = 0.5)
      .orderBy($"id_a", $"id_b")
  }
  private val q108Sql =
    s"""WITH sa AS (${shSetSqlFrom("(SELECT * FROM documents WHERE doc_id % 3 = 0) x")}),
       |sb AS (${shSetSqlFrom("(SELECT * FROM documents WHERE doc_id % 3 <> 0) y")})
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM sa a, sb b)
       |WHERE jaccard >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q109
  // Length-bucketed packing (dynamic batching): docs bucketed by token
  // count (64-token bands, capped at 7), then packed into 2048-token
  // sequences PER BUCKET — batches of like-length docs minimize padding
  // waste in training. Exercises the grouped two-phase prefix sum: the
  // oracle's per-bucket window is exactly the giant-group plan
  // packSequencesGrouped avoids.
  private def q109(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(
        $"doc_id",
        TextAnalysis.tokenCount($"text").cast("long").as("nt"),
        TextAnalysis.fingerprint($"text").as("fp"))
      .withColumn("len_bucket", least(expr("nt div 64"), lit(7L)))
    graft.ops.Packing.packSequencesGrouped(docs, "len_bucket", "doc_id",
        "nt", orderCols = Seq("fp", "doc_id"), seqTokens = 2048)
      .select($"id".as("doc_id"), $"group".as("len_bucket"),
        $"n_tokens", $"start_tok", $"seq_id")
      .orderBy($"doc_id")
  }
  private val q109Sql =
    s"""WITH t AS (SELECT doc_id, $ntSql AS nt, $fpSql AS fp FROM documents),
       |b AS (SELECT *, least(nt // 64, 7) AS len_bucket FROM t),
       |o AS (SELECT doc_id, len_bucket, nt,
       |        CAST(COALESCE(SUM(nt) OVER (PARTITION BY len_bucket ORDER BY fp, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |      FROM b)
       |SELECT doc_id, CAST(len_bucket AS BIGINT) AS len_bucket, nt AS n_tokens,
       |  st AS start_tok, CAST(st // 2048 AS BIGINT) AS seq_id
       |FROM o ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q110
  // Embedding outliers: max-cosine centroid assignment (q67's replayable
  // contract), flag dist² > 2× cluster mean via cross-multiplied integer
  // comparison — junk/mis-embedded vectors a similarity pipeline should
  // quarantine. The oracle replays assignment, distance, and the flag.
  private def q110(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Similarity.embeddingOutliers(Tables.embeddings(s, d),
        nCentroids = 8, factor = 2)
      .orderBy($"vec_id")
  }
  private val q110Sql = {
    import CorpusQueries.cosSql
    s"""WITH v AS (SELECT vec_id AS id, ${LlmQueries.quantSql} AS qv FROM embeddings),
       |c AS (SELECT id AS cid, qv AS cv FROM v WHERE id < 8),
       |asg AS (SELECT id, cluster_id, qv FROM (
       |    SELECT v.id, c.cid AS cluster_id, v.qv,
       |      ROW_NUMBER() OVER (PARTITION BY v.id
       |        ORDER BY ${cosSql("v.qv", "c.cv")} DESC, c.cid) AS rn
       |    FROM v, c) WHERE rn = 1),
       |d AS (SELECT a.id, a.cluster_id,
       |        CAST(list_sum(list_transform(range(1, len(a.qv)+1),
       |          i -> (a.qv[i] - c.cv[i]) * (a.qv[i] - c.cv[i]))) AS BIGINT) AS dist
       |      FROM asg a JOIN c ON a.cluster_id = c.cid),
       |s AS (SELECT cluster_id, CAST(SUM(dist) AS BIGINT) AS sum_dist,
       |        COUNT(*) AS cnt
       |      FROM d GROUP BY cluster_id)
       |SELECT d.id AS vec_id, d.cluster_id, d.dist,
       |  d.dist * s.cnt > 2 * s.sum_dist AS is_outlier
       |FROM d JOIN s USING (cluster_id) ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q111
  // Self-trained bigram NLL (perplexity filter, next step up from q77's
  // unigram): P(t2|t1) = n(t1,t2)/n(t1,·), both count joins SHUFFLE joins
  // (a bigram table doesn't broadcast). Docs with <2 tokens drop out.
  private def q111(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextAnalysis.bigramNll(Tables.documents(s, d))
      .select($"id".as("doc_id"), $"dl", $"avg_nll")
      .orderBy($"doc_id")
  }
  private val q111Sql =
    s"""WITH ts AS (SELECT doc_id, $toksSql AS ts FROM documents),
       |bg AS (SELECT doc_id, ts[i+1] AS t1, ts[i+2] AS t2
       |       FROM ts, LATERAL unnest(range(len(ts) - 1)) AS u(i)
       |       WHERE len(ts) >= 2),
       |c12 AS (SELECT t1, t2, count(*) AS n12 FROM bg GROUP BY t1, t2),
       |c1 AS (SELECT t1, count(*) AS n1 FROM bg GROUP BY t1),
       |sc AS (SELECT doc_id,
       |         CAST(floor(ln(CAST(n12 AS DOUBLE) / n1) * 1e6) AS BIGINT) AS c6
       |       FROM bg JOIN c12 USING (t1, t2) JOIN c1 USING (t1)),
       |agg AS (SELECT doc_id, CAST(sum(c6) AS BIGINT) AS s, count(*) AS dl
       |        FROM sc GROUP BY doc_id)
       |SELECT doc_id, dl, CAST(-s AS DOUBLE) / dl / 1e6 AS avg_nll
       |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q112
  // Salted JOIN under oracle (the join face of q75's salted agg): events
  // enriched with per-type counts through Skew.saltedJoin — the dominant
  // event_type is the single-hot-key join AQE's skew split handles for
  // SMJ but salting handles for ANY join shape; the oracle's plain join
  // pins that salting is invisible in the result.
  private def q112(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"user_id")
    val dim = ev.groupBy($"event_type").agg(count(lit(1)).as("n_type"))
    Skew.saltedJoin(ev, dim, "event_type", saltBuckets = 8)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"user_id" * $"n_type").as("weighted"))
      .orderBy($"event_type")
  }
  private val q112Sql =
    """WITH dim AS (SELECT event_type, count(*) AS n_type FROM events GROUP BY event_type)
      |SELECT e.event_type, count(*) AS n,
      |  CAST(sum(e.user_id * d.n_type) AS BIGINT) AS weighted
      |FROM events e JOIN dim d USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  // ---------------------------------------------------------------- q113
  // Tokenizer-training prep: adjacent character-pair frequencies inside
  // normalized words — the counting kernel of the first BPE merge
  // iteration. Pure map-side counting + total-order top-20 (count desc,
  // pair asc): a TakeOrdered, never a global sort.
  private def q113(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(split(graft.ops.Dedup.normalized(
        coalesce($"text", lit(""))), " ")).as("w"))
      .filter(length($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(0, length(w)-2), i -> substr(w, i+1, 2))")).as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(20)
  }
  private val q113Sql =
    s"""WITH w AS (SELECT unnest($toksSql) AS w FROM documents),
       |p AS (SELECT w[i+1:i+2] AS pair
       |      FROM w, LATERAL unnest(range(len(w) - 1)) AS u(i)
       |      WHERE len(w) >= 2)
       |SELECT pair, count(*) AS n FROM p GROUP BY pair
       |ORDER BY n DESC, pair LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q235
  // Full BPE TRAINER over the corpus vocabulary: six count→merge→
  // re-segment rounds (q113 is one round's counting kernel; this is the
  // loop a tokenizer build actually runs). The oracle unrolls the same
  // six rounds in SQL — pair counts from the current segmentation, top
  // pair by (count desc, l, r), then the canonical greedy left-to-right
  // merge via gaps-and-islands (marked-run offsets keep even positions,
  // which only diverges from "merge every mark" on same-symbol runs) —
  // so the whole iterative trainer is hash-gated, not just round one.
  private def q235(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.TextAnalysis.bpeTrain(Tables.documents(s, d), merges = 6)
      .orderBy($"round")
  }
  private val q235Sql = {
    def round(k: Int): String = {
      val prev = s"st${k - 1}"
      s"""best$k AS MATERIALIZED (
         |  SELECT l, r, n FROM (
         |    SELECT syms[i] AS l, syms[i+1] AS r,
         |      CAST(SUM(freq) AS BIGINT) AS n
         |    FROM $prev, LATERAL unnest(range(1, len(syms))) t(i)
         |    GROUP BY 1, 2)
         |  ORDER BY n DESC, l, r LIMIT 1),
         |mk$k AS (
         |  SELECT w, freq, i, sym,
         |    CASE WHEN sym = l AND
         |      lead(sym) OVER (PARTITION BY w ORDER BY i) = r
         |      THEN 1 ELSE 0 END AS mk, l, r
         |  FROM (SELECT w, freq, i, syms[i] AS sym
         |        FROM $prev, LATERAL unnest(range(1, len(syms)+1)) t(i))
         |  CROSS JOIN best$k),
         |isl$k AS (
         |  SELECT *, CASE WHEN mk = 1 THEN
         |      i - ROW_NUMBER() OVER (PARTITION BY w, mk ORDER BY i)
         |    END AS isl
         |  FROM mk$k),
         |keep$k AS (
         |  SELECT *, CASE WHEN mk = 1 AND
         |      (i - MIN(i) OVER (PARTITION BY w, isl)) % 2 = 0
         |    THEN 1 ELSE 0 END AS kp
         |  FROM isl$k),
         |st$k AS MATERIALIZED (
         |  SELECT w, freq,
         |    list(CASE WHEN kp = 1 THEN l || r ELSE sym END ORDER BY i)
         |      AS syms
         |  FROM (SELECT *, LAG(kp, 1, 0) OVER (PARTITION BY w ORDER BY i)
         |          AS pkp
         |        FROM keep$k)
         |  WHERE pkp = 0
         |  GROUP BY w, freq)""".stripMargin
    }
    val rounds = (1 to 6).map(round).mkString(",\n")
    val sel = (1 to 6).map(k =>
      s"SELECT CAST($k AS BIGINT) AS round, l AS lhs, r AS rhs, n AS pair_count FROM best$k")
      .mkString("\nUNION ALL ")
    s"""WITH st0 AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
       |    regexp_extract_all(w, '.') AS syms
       |  FROM (SELECT unnest($toksSql) AS w FROM documents)
       |  WHERE strlen(w) >= 2 GROUP BY w),
       |$rounds
       |$sel
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q241
  // BPE APPLY: per-document token counts under a PINNED six-merge table
  // (q235 trains; this prices documents with the trained artifact — the
  // token-budget statistic). The merge table is fixed literals so the
  // oracle unrolls only the apply replay (six gaps-and-islands rounds
  // over the DISTINCT vocabulary, the operator's own cost model); the
  // train→apply composition is pinned by TextAnalysisSpec instead. The
  // pairs are chosen so every round fires on the fixture vocabulary,
  // including one merge (in+e) that consumes another's output (i+n).
  private val q241Merges = Seq(
    (1L, "t", "a"), (2L, "a", "n"), (3L, "r", "t"),
    (4L, "i", "n"), (5L, "in", "e"), (6L, "ta", "b"))
  private def q241(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.TextAnalysis.bpeSegmentCounts(Tables.documents(s, d),
        q241Merges.toDF("round", "lhs", "rhs"))
      .orderBy($"doc_id")
  }
  // one gaps-and-islands BPE apply round over the st{k-1} symbol state —
  // shared by the q241 (counts) and q264 (token ids) oracles
  private def bpeApplyRound(k: Int, l: String, r: String): String = {
      val prev = s"st${k - 1}"
      s"""mk$k AS (
         |  SELECT w, i, sym,
         |    CASE WHEN sym = '$l' AND
         |      lead(sym) OVER (PARTITION BY w ORDER BY i) = '$r'
         |      THEN 1 ELSE 0 END AS mk
         |  FROM (SELECT w, i, syms[i] AS sym
         |        FROM $prev, LATERAL unnest(range(1, len(syms)+1)) t(i))),
         |isl$k AS (
         |  SELECT *, CASE WHEN mk = 1 THEN
         |      i - ROW_NUMBER() OVER (PARTITION BY w, mk ORDER BY i)
         |    END AS isl
         |  FROM mk$k),
         |keep$k AS (
         |  SELECT *, CASE WHEN mk = 1 AND
         |      (i - MIN(i) OVER (PARTITION BY w, isl)) % 2 = 0
         |    THEN 1 ELSE 0 END AS kp
         |  FROM isl$k),
         |st$k AS MATERIALIZED (
         |  SELECT w,
         |    list(CASE WHEN kp = 1 THEN '$l' || '$r' ELSE sym END ORDER BY i)
         |      AS syms
         |  FROM (SELECT *, LAG(kp, 1, 0) OVER (PARTITION BY w ORDER BY i)
         |          AS pkp
         |        FROM keep$k)
         |  WHERE pkp = 0
         |  GROUP BY w)""".stripMargin
  }

  private val q241Sql = {
    val rounds = q241Merges
      .map { case (k, l, r) => bpeApplyRound(k.toInt, l, r) }.mkString(",\n")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT doc_id, u.w
       |  FROM documents, LATERAL unnest($toksSql) AS u(w)
       |  WHERE u.w <> ''),
       |st0 AS MATERIALIZED (
       |  SELECT w, regexp_extract_all(w, '.') AS syms
       |  FROM (SELECT DISTINCT w FROM w0)),
       |$rounds,
       |seg AS (SELECT w, len(syms) AS n_toks FROM st6)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens
       |FROM w0 JOIN seg USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q264
  // BPE TOKENIZE-TO-IDS under q241's pinned merge table: per-document
  // token-ID sequences under the deterministic vocabulary contract
  // (binary-sorted distinct base codepoints = ids 0..B−1, merge products
  // = B+round−1). The oracle reuses q241's six apply rounds, derives the
  // identical vocabulary in SQL, and reassembles per-doc id lists in
  // word order — list equality is the gate.
  private def q264(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the operator returns (doc_id, n_tokens, ids array<bigint>); the
    // GATE presents the sequence as scalar (doc_id, pos, token_id) rows
    // — the driver's hash layer can't sort array cells — while the
    // array-returning face stays the sink/serving path (SinksSpec
    // round-trips id-bearing shards)
    graft.ops.TextAnalysis.bpeTokenIds(Tables.documents(s, d),
        q241Merges.toDF("round", "lhs", "rhs"))
      .select($"doc_id", posexplode($"ids").as(Seq("pos", "token_id")))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"token_id")
      .orderBy($"doc_id", $"pos")
  }
  private val q264Sql = {
    val rounds = q241Merges
      .map { case (k, l, r) => bpeApplyRound(k.toInt, l, r) }.mkString(",\n")
    val mergeVals = q241Merges
      .map { case (k, l, r) => s"('$l$r', ${k - 1})" }.mkString(", ")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT doc_id, t.i AS pos, toks[t.i] AS w
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents),
       |    LATERAL unnest(range(1, len(toks) + 1)) t(i)
       |  WHERE toks[t.i] <> ''),
       |st0 AS MATERIALIZED (
       |  SELECT w, regexp_extract_all(w, '.') AS syms
       |  FROM (SELECT DISTINCT w FROM w0)),
       |$rounds,
       |base AS (SELECT sym, ROW_NUMBER() OVER (ORDER BY sym) - 1 AS vid
       |  FROM (SELECT DISTINCT t.sym
       |        FROM st0, LATERAL unnest(syms) t(sym))),
       |bn AS (SELECT COUNT(*) AS b FROM base),
       |vocab AS (SELECT sym, vid FROM base
       |  UNION ALL
       |  SELECT sym, MIN(bn.b + r) AS vid
       |  FROM (VALUES $mergeVals) m(sym, r) CROSS JOIN bn GROUP BY sym),
       |wids AS (SELECT st6.w,
       |    list(v.vid ORDER BY t.i) AS wids
       |  FROM st6, LATERAL unnest(range(1, len(syms) + 1)) t(i)
       |  JOIN vocab v ON v.sym = st6.syms[t.i]
       |  GROUP BY st6.w),
       |docids AS (SELECT doc_id, flatten(list(wids ORDER BY pos)) AS ids
       |  FROM w0 JOIN wids USING (w) GROUP BY doc_id)
       |SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos,
       |  CAST(ids[t.i] AS BIGINT) AS token_id
       |FROM docids, LATERAL unnest(range(1, len(ids) + 1)) t(i)
       |ORDER BY doc_id, pos""".stripMargin
  }

  // ---------------------------------------------------------------- q114
  // Per-source uniform k-sample: exactly min(k, |group|) docs per source,
  // chosen by unsigned md5 order (deterministic "reservoir" — content-
  // keyed, retry/layout-invariant). Pure composition: grouped prefix sum
  // with every doc counting 1 → per-group dense rank, filter rank < k.
  private def q114(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(
      $"source", $"doc_id", lit(1L).as("one"),
      graft.functions.Md5Low64($"doc_id".cast("string"))
        .bitwiseXOR(Long.MinValue).as("mh"))
    graft.ops.Packing.prefixSum(docs, "doc_id", "one", Seq("mh", "doc_id"),
        "rank", Some("source"))
      .filter($"rank" < 5)
      .select($"doc_id", $"source", $"rank")
      .orderBy($"doc_id")
  }
  private val q114Sql =
    """SELECT doc_id, source, CAST(rn - 1 AS BIGINT) AS rank FROM (
      |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
      |    ORDER BY md5_number_lower(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) WHERE rn <= 5 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q115
  // Quality-first token quota (curriculum knapsack): per source, keep the
  // HIGHEST-quality docs until 600 tokens — q66's quota with quality-desc
  // order instead of content-hash order; same grouped prefix sum, so a
  // corpus-dominating source never single-tasks.
  private def q115(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(
      $"source", $"doc_id",
      TextAnalysis.tokenCount($"text").cast("long").as("nt"),
      (-floor(TextAnalysis.qualityScore($"text") * 1e6).cast("long")).as("negq"))
    graft.ops.Packing.prefixSum(docs, "doc_id", "nt", Seq("negq", "doc_id"),
        "start_tok", Some("source"))
      .filter($"start_tok" < 600)
      .select($"doc_id", $"source", $"start_tok")
      .orderBy($"doc_id")
  }
  private val q115Sql =
    s"""WITH t AS (SELECT doc_id, source, $ntSql AS nt,
       |        CAST(floor(($qualitySql) * 1e6) AS BIGINT) AS q6 FROM documents),
       |o AS (SELECT doc_id, source,
       |        CAST(COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY -q6, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |      FROM t)
       |SELECT doc_id, source, start_tok FROM o
       |WHERE start_tok < 600 ORDER BY doc_id""".stripMargin


  // ---------------------------------------------------------------- q116
  // Accent-insensitive vocabulary stats per language: docs containing
  // accents, and the distinct folded-token vocabulary size — the
  // normalization a multilingual tokenizer/matcher applies before
  // counting. strip_accents is the new native codegen expression,
  // bit-identical to DuckDB's (canonical decomposition only).
  private def q116(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // doc-level stats and token-level vocab are SEPARATE aggregates joined
    // on lang (both |langs|-sized): folding vocab through a per-group
    // collect_list would materialize each language's token set in one
    // task, and counting docs after an explode would inflate them
    val perDoc = docs
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(graft.functions.StripAccents(coalesce($"text", lit(""))) =!=
          coalesce($"text", lit("")), 1L).otherwise(0L)).as("n_accented"))
    val vocab = docs
      .select($"lang", explode(split(graft.functions.StripAccents(
        graft.ops.Dedup.normalized(coalesce($"text", lit("")))), " ")).as("tok"))
      .groupBy($"lang")
      .agg(countDistinct($"tok").as("fold_vocab"))
    perDoc.join(vocab, Seq("lang")).orderBy($"lang")
  }
  private val q116Sql =
    s"""WITH d AS (SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN strip_accents(COALESCE(text, '')) <> COALESCE(text, '')
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_accented
       |  FROM documents GROUP BY lang),
       |v AS (SELECT lang, CAST(COUNT(DISTINCT u.tok) AS BIGINT) AS fold_vocab
       |  FROM (SELECT lang, strip_accents($normSql) AS ft FROM documents) t,
       |       LATERAL unnest(string_split(ft, ' ')) AS u(tok)
       |  GROUP BY lang)
       |SELECT lang, n_docs, n_accented, fold_vocab
       |FROM d JOIN v USING (lang) ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q117
  // Near-dup resolution keeping the BEST copy: connected components over
  // the verified pair set (q60's machinery), survivor = argmax(quality,
  // tie min id) per component, un-clustered docs pass through. The oracle
  // extends q60's recursive transitive closure with the same argmax.
  private def q117(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.keepBestPerCluster(Tables.documents(s, d),
        floor(TextAnalysis.qualityScore($"text") * 1e6).cast("long"),
        threshold = 0.5)
      .select($"doc_id")
      .orderBy($"doc_id")
  }
  private val q117Sql =
    s"""WITH RECURSIVE sh AS (${LlmQueries.shSetSql}),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.5),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id),
       |comp AS (SELECT id, MIN(lbl) AS c FROM reach GROUP BY id),
       |q AS (SELECT doc_id, CAST(floor(($qualitySql) * 1e6) AS BIGINT) AS q6
       |      FROM documents),
       |best AS (SELECT doc_id FROM (
       |    SELECT comp.c, q.doc_id,
       |      row_number() OVER (PARTITION BY comp.c ORDER BY q.q6 DESC, q.doc_id) AS rn
       |    FROM comp JOIN q ON comp.id = q.doc_id) WHERE rn = 1)
       |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM comp)
       |UNION ALL SELECT doc_id FROM best
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q134
  // Proportional source interleave: the consumption ORDER of the mixed
  // corpus — source s's r-th doc (md5 order) lands at Bresenham slot
  // ((2r+1)·N) div (2·n_s), so every source spreads evenly through the
  // stream at its own rate. All-integer; the oracle replays rank, counts,
  // and the slot formula.
  private def q134(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Mixture.proportionalInterleave(Tables.documents(s, d), "doc_id", "source")
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("group", "source")
      .orderBy($"doc_id")
  }
  private val q134Sql =
    """WITH t AS (SELECT doc_id, source,
      |        md5_number_lower(CAST(doc_id AS VARCHAR)) AS mh FROM documents),
      |r AS (SELECT doc_id, source,
      |        CAST(row_number() OVER (PARTITION BY source ORDER BY mh, doc_id) - 1
      |             AS BIGINT) AS r
      |      FROM t),
      |c AS (SELECT source, COUNT(*) AS n_s FROM t GROUP BY source),
      |tot AS (SELECT COUNT(*) AS total FROM t)
      |SELECT doc_id, source, r,
      |  CAST(((2*r + 1) * total) // (2 * n_s) AS BIGINT) AS ikey
      |FROM r JOIN c USING (source) CROSS JOIN tot
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q135
  // Negative-sampling table (unigram^0.75): per-token smoothed-mass
  // ranges for embedding-training draws. n^0.75 = sqrt(sqrt(n^3)) — exact
  // integer cube + correctly-rounded IEEE sqrt on both engines, where
  // pow(n, 0.75) is platform-dependent in the last ulp. The oracle
  // replays the basis and the (token-ordered) window prefix sum that the
  // two-phase pack machinery computes distributively.
  private def q135(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Mixture.negativeSamplingTable(Tables.documents(s, d))
      .orderBy($"token")
  }
  private val q135Sql =
    s"""WITH c AS (SELECT unnest($toksSql) AS token FROM documents),
       |n AS (SELECT token, COUNT(*) AS n FROM c GROUP BY token),
       |b AS (SELECT token, n,
       |        CAST(floor(sqrt(sqrt(CAST(n*n*n AS DOUBLE))) * 1e6) AS BIGINT) AS basis
       |      FROM n),
       |p AS (SELECT token, n, basis,
       |        CAST(COALESCE(SUM(basis) OVER (ORDER BY token
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |          AS cum_start
       |      FROM b)
       |SELECT token, n, basis, cum_start,
       |  CAST(cum_start + basis AS BIGINT) AS cum_end
       |FROM p ORDER BY token""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q105_temperature_mix", q105, Some(q105Sql)),
    QueryDef("q106_epoch_shuffle", q106, Some(q106Sql)),
    QueryDef("q107_curriculum", q107, Some(q107Sql)),
    QueryDef("q108_cross_corpus_dups", q108, Some(q108Sql)),
    QueryDef("q109_length_buckets", q109, Some(q109Sql)),
    QueryDef("q110_embed_outliers", q110, Some(q110Sql)),
    QueryDef("q111_bigram_nll", q111, Some(q111Sql)),
    QueryDef("q112_salted_join", q112, Some(q112Sql)),
    QueryDef("q113_bpe_pairs", q113, Some(q113Sql)),
    QueryDef("q235_bpe_train", q235, Some(q235Sql)),
    QueryDef("q241_bpe_segment", q241, Some(q241Sql)),
    QueryDef("q264_bpe_token_ids", q264, Some(q264Sql)),
    QueryDef("q114_group_ksample", q114, Some(q114Sql)),
    QueryDef("q115_quality_quota", q115, Some(q115Sql)),
    QueryDef("q116_accent_fold", q116, Some(q116Sql)),
    QueryDef("q117_keep_best", q117, Some(q117Sql)),
    QueryDef("q134_interleave", q134, Some(q134Sql)),
    QueryDef("q135_negsample_table", q135, Some(q135Sql)),
  )
}
