package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, HashFunctions, TextFunctions}

/** Document-level text analysis for the training-data pipeline:
  * quality metrics, language ID, fingerprints. Pure per-row projections
  * — zero shuffles; at 100 TB these run at scan speed with column
  * pruning down to (doc_id, text).
  */
object TextAnalysis {

  /** Quality metrics per document: char/token/punct counts and the
    * composite quality score (TextFunctions.qualityScore).
    */
  def qualityMetrics(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tokens_ws"),
      TextFunctions.tokenCountBpe(col("text")).cast("long").as("n_tokens_bpe"),
      TextFunctions.punctCount(col("text")).cast("long").as("n_punct"),
      TextFunctions.alphaCount(col("text")).cast("long").as("n_alpha"),
      TextFunctions.qualityScore(col("text")).as("quality"))

  /** Language-ID scores + prediction per document. */
  def languageId(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      TextFunctions.langScore(col("text"), "en").as("score_en"),
      TextFunctions.langScore(col("text"), "de").as("score_de"),
      TextFunctions.langScore(col("text"), "fr").as("score_fr"),
      TextFunctions.langScore(col("text"), "es").as("score_es"),
      TextFunctions.langPredict(col("text")).as("lang_pred"))

  /** Content fingerprints: md5 (oracle-matchable) + Karp-Rabin rolling
    * hash (custom codegen expression).
    */
  def fingerprints(spark: SparkSession, documents: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    documents.select(
      col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fp_md5"),
      TextFunctions.fingerprintRolling(col("text")).as("fp_rolling"))
  }

  /** Benchmark decontamination: corpus documents sharing any word
    * n-gram with the benchmark/test set, with the count of distinct
    * overlapping n-grams. The benchmark side is tiny (a test set), so
    * its distinct n-grams BROADCAST and the corpus side never shuffles
    * — the standard train/test-overlap sweep (n=8..13 in production;
    * the fixture query uses n=4 so the synthetic corpus shows hits).
    */
  def contamination(documents: DataFrame, benchmark: DataFrame,
                    n: Int = 8): DataFrame = {
    GraftFunctions.register(documents.sparkSession)
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(HashFunctions.wordShingles(
        TextFunctions.wsTokens(col("text")), n)).as("g"))
    val benchGrams = grams(benchmark).select(col("g")).distinct()
    grams(documents)
      .join(broadcast(benchGrams), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_overlapping"))
  }

  /** Training-sequence packing: assign each document to the fixed
    * token-budget sequence it STARTS in (documents may straddle
    * boundaries — the standard concat-and-chunk LLM pretraining layout).
    * Deterministic: docs are laid out per source in doc_id order, and
    * the windowed cumulative token count is integer arithmetic, so the
    * assignment is reshuffle-stable and exactly oracle-able.
    *
    * Scale: one shuffle on `source`, then a single in-partition window
    * pass. A degenerate source serializes into one partition; shard the
    * layout key ((source, hash(doc_id) % k)) when a source exceeds a
    * partition budget — the packing contract per shard is unchanged.
    */
  def sequencePacking(documents: DataFrame, tokenBudget: Int = 2048): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    documents
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      // integral `div`, not double `/`: exact at any corpus size
      .withColumn("seq_id", expr(s"(cum_tokens - n_tokens) div $tokenBudget"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("seq_id"))
  }

  /** Per-source length-percentile filter: drop each source's shortest
    * documents (bottom `dropBelow` fraction by token count) — the
    * quantile-based quality gate of a corpus build, computed per source
    * so verbose sources don't starve terse ones. percent_rank over the
    * (n_tokens, doc_id) total order is deterministic (no ties) and
    * integer-driven, so the oracle reproduces it exactly.
    *
    * Scale: one shuffle on `source` + one window pass, same posture as
    * [[sequencePacking]]. The global variant (no partition) needs a
    * range-partitioned sort — prefer per-source.
    */
  def lengthPercentileFilter(documents: DataFrame,
                             dropBelow: Double = 0.2): DataFrame = {
    // percent_rank reconstructed from ScaleOps.groupedRank: the order
    // (n_tokens, doc_id) is TOTAL, so rank == row_number and
    // pr = (rk−1)/(n−1) — exactly percent_rank, without the per-source
    // single-task sort (SQL defines pr = 0 for a 1-row group).
    // Boundary contract (inherited from percent_rank, oracle-pinned):
    // each source's MINIMUM doc has pr = 0 and is dropped for any
    // dropBelow > 0 — including a single-doc source, which therefore
    // vanishes entirely. A caller that must keep at least one doc per
    // source should pre-filter tiny sources or use rank-based cuts.
    ScaleOps.groupedRank(
        documents.select(col("doc_id"), col("source"),
          TextFunctions.tokenCountWs(col("text")).cast("long")
            .as("n_tokens")),
        Seq("source"), Seq(col("n_tokens").asc, col("doc_id").asc),
        rankCol = "rk", countCol = "n")
      .withColumn("pr", when(col("n") > 1L,
        (col("rk") - 1L).cast("double") / (col("n") - 1L).cast("double"))
        .otherwise(0.0))
      .filter(col("pr") >= dropBelow)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("pr"))
  }

  /** Cross-document boilerplate n-gram detection (C4-style): n-grams
    * occurring in at least `minDocs` DISTINCT documents, with their
    * document frequency — the candidate set for boilerplate stripping
    * and the df side of contamination sweeps. Per-doc grams are
    * array_distinct'ed BEFORE the explode so each doc votes once and
    * the aggregate is a plain count; one shuffle on the gram. At
    * 100 TB: partial map-side counts make the shuffle scale with
    * distinct grams per partition, and a `minDocs` this low is only
    * for fixtures — production df thresholds shrink the output to the
    * true boilerplate tail.
    */
  def boilerplateNgrams(documents: DataFrame, n: Int = 4,
                        minDocs: Int = 2): DataFrame = {
    GraftFunctions.register(documents.sparkSession)
    documents
      .select(explode(array_distinct(HashFunctions.wordShingles(
        TextFunctions.wsTokens(col("text")), n))).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Per-document top-`k` rarity-weighted terms (TF-IDF keyword
    * extraction): score = tf · N / df with a LINEAR idf instead of the
    * textbook log — the ranking signal is the same monotone df-inverse,
    * but every score stays a ratio of exact integers, so the oracle
    * reproduces it bit-for-bit (ln() bits differ across libm
    * implementations; a corpus pipeline cares about the ranking, not
    * the absolute scale).
    *
    * Scale: tf = one shuffle on (doc, term); df aggregates tf (term
    * shuffle, map-side combined); the scalar N broadcasts; the top-k
    * window rides the doc_id shuffle. Nothing quadratic, no driver
    * state — textbook map-reduce TF-IDF declared relationally.
    */
  def tfidfTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val toks = documents.select(col("doc_id"),
      explode(TextFunctions.wsTokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      // long*long exact, then IEEE double division — deterministic
      .withColumn("score", col("tf") * col("n_docs") / col("df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rk"))
  }

  /** Exact-quota stratified sampling: per source, keep exactly
    * min(quota, |source|) documents, chosen by content-hash order — the
    * fixed-budget sibling of rate-based mixture sampling (q43): a
    * mixture RATE keeps a fraction, a QUOTA pins the sample size per
    * stratum. Hash order makes the choice reshuffle-stable and
    * re-ingestion-stable (the sample follows content, not row order).
    *
    * Scale: quotas are a KB-scale broadcast; ranks ride
    * [[graft.operators.ScaleOps.groupedRank]]'s range shuffle, so a
    * mega-stratum spreads over the cluster instead of serializing into
    * one window partition (the r11 retirement of that caveat).
    */
  def stratifiedSample(documents: DataFrame, quotas: DataFrame): DataFrame = {
    // per-stratum ranks via ScaleOps.groupedRank — the quota filter is
    // a COLUMN bound, so Spark's WindowGroupLimit never fired on the
    // old window form and a mega-stratum serialized into one task (the
    // caveat the previous scaladoc carried); the range-shuffled rank
    // retires it
    ScaleOps.groupedRank(
        documents
          .select(col("doc_id"), col("source"),
            // first 8 hex chars of md5 -> uniform 32-bit content hash
            conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
              .as("u"))
          .join(broadcast(quotas), "source"),
        Seq("source"), Seq(col("u").asc, col("doc_id").asc),
        rankCol = "rk")
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** Segment-level corpus dedup WITH document reconstruction (the
    * C4/RefinedWeb "line dedup" step, on `k`-token segments since the
    * synthetic corpus has no newlines): split each document into
    * non-overlapping k-token segments, keep only the globally FIRST
    * occurrence of each distinct segment text — first = minimum
    * (doc_id, position), packed into one long so the arg-min is a
    * plain `min` — and reassemble every document from its surviving
    * segments in original order. Documents that lose every segment
    * (exact duplicates of earlier docs) vanish; partially-duplicated
    * documents come back shorter. Emits per-doc segment accounting
    * plus the rebuilt text's length and md5.
    *
    * Scale posture: one shuffle on segment text for the first-
    * occurrence arg-min (map-side combined), a join back on the same
    * key (exchange reused), and one shuffle on doc_id to reassemble —
    * segments are bounded (k tokens), so no row is ever wide. The
    * collect_list is per-document and order-restored with array_sort
    * on (idx, seg) structs, so the rebuild is reshuffle-deterministic.
    * The packed occurrence key needs idx < 4096 — documents longer
    * than 4096·k tokens should pack (doc_id, shard) first.
    */
  def segmentDedupRebuild(documents: DataFrame, k: Int = 8): DataFrame = {
    val toks = TextFunctions.wsTokens(col("text"))
    val nSeg = ((size(toks) + lit(k - 1)) / lit(k)).cast("int")
    // nSeg = 0 (empty/whitespace-only doc): sequence(0, -1) DESCENDS
    // ([0, -1] — the same hazard bpeLoop/bigramLogProb/retrievalEval
    // guard), which would emit two phantom ''-segments; such docs must
    // emit no segments and vanish like any fully-duplicated doc
    val segs = documents.select(col("doc_id"),
      posexplode(when(nSeg > 0,
        transform(sequence(lit(0), nSeg - lit(1)),
          j => array_join(slice(toks, j * lit(k) + lit(1), lit(k)), " ")))
        .otherwise(array()))
        .as(Seq("idx", "seg")))
    // keyed feeds the firsts aggregate, the kept join, AND the totals
    // aggregate — checkpoint so the tokenize+posexplode corpus scan
    // runs once, not three times (the file's reused-frame convention)
    val keyed = segs.withColumn("occ",
      col("doc_id") * lit(4096L) + col("idx"))
      .localCheckpoint(true)
    val firsts = keyed.groupBy(col("seg")).agg(min(col("occ")).as("first_occ"))
    val kept = keyed.join(firsts, Seq("seg"))
      .filter(col("occ") === col("first_occ"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("seg")))),
          s => s.getField("seg")), " ").as("rebuilt"))
    val totals = keyed.groupBy(col("doc_id")).agg(count(lit(1)).as("n_seg"))
    rebuilt.join(totals, "doc_id")
      .select(col("doc_id"), col("n_seg"), col("n_kept"),
        length(col("rebuilt")).cast("long").as("n_chars_rebuilt"),
        md5(col("rebuilt")).as("rebuilt_md5"))
  }

  /** Intra-document repetition (Gopher-style quality signal): total vs
    * distinct word n-gram counts and the distinct ratio — low ratios
    * flag boilerplate/spam. Pure per-row, scan speed.
    */
  /** Unigram language-model quality score (the CCNet/KenLM-style
    * perplexity filter, with the corpus itself as the model): per
    * document, the mean negative log-likelihood of its tokens under
    * the corpus unigram distribution — nll = ln(N) - avg(ln(cnt_t)).
    * Low nll ⇒ common, fluent tokens; high nll ⇒ rare-token noise.
    *
    * Scale shape: one token explode feeding a groupBy (map-side
    * combined — the model build), one join tokens→counts that is
    * vocab-bounded on the build side (broadcastable for any real
    * vocabulary), and the corpus total as a 1-row broadcast. No
    * driver-side state; no second pass over text.
    */
  def unigramLogProb(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"),
        explode(TextFunctions.wsTokensCased(col("text"))).as("token"))
    val vocab = toks.groupBy("token")
      .agg(count(lit(1)).cast("double").as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    toks.join(vocab, "token")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (log(max(col("n_total"))) - avg(log(col("cnt")))).as("nll"))
  }

  /** Distributed BPE merge learning — the first `k` merge rules of a
    * byte-pair-encoding tokenizer, learned from the corpus. One pass
    * over the text builds the word-frequency table; every merge round
    * after that runs over the VOCABULARY only (the classic BPE trick —
    * identical words collapse to one row with a weight), so at 100 TB
    * the corpus is read once and the iteration cost is independent of
    * corpus size.
    *
    * Each round: adjacent symbol pairs weighted by word frequency →
    * top pair by (count desc, pair asc) → greedy left-to-right merge
    * of that pair in every word (a fold: a merged symbol does not
    * re-merge with the following symbol in the same round, so
    * "a a a" under rule (a,a) becomes "aa a" — textbook BPE). The
    * fold is a Catalyst `aggregate` HOF over the symbol array with a
    * (committed, pending) struct state; the DuckDB oracle replays the
    * same fold with `list_reduce`, and the chosen rule is joined in as
    * a broadcast 1-row frame (never a driver round-trip per rule).
    *
    * Returns one row per round: (round, l, r, cnt).
    */
  def bpeMerges(documents: DataFrame, k: Int = 5): DataFrame =
    bpeLoop(documents, k)._1

  /** [[bpeMerges]]' rules APPLIED back to the corpus: per-source token
    * compression stats after the k learned merges —
    * (source, n_words, n_chars, n_tokens). The encode side reuses the
    * vocabulary-bounded final symbol table and joins it to a
    * (source, word) frequency frame, so the corpus text is again read
    * only once.
    */
  def bpeEncode(documents: DataFrame, k: Int = 5): DataFrame = {
    val encoded = bpeLoop(documents, k)._2 // (w, t, freq) — vocab-sized
    val bySource = documents
      .select(col("source"),
        explode(TextFunctions.wsTokensCased(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("freq"))
    bySource.join(encoded.select(col("w"), size(col("t")).as("n_tok")), "w")
      .groupBy("source")
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * length(col("w"))).as("n_chars"),
        sum(col("freq") * col("n_tok")).as("n_tokens"))
  }

  /** Per-source distribution drift vs the corpus: KL(P_source ||
    * P_corpus) over token frequencies, with add-one smoothing on the
    * source side restricted to the corpus vocabulary (every corpus
    * token gets source-count + 1, so the divergence is finite and the
    * smoothed source mass sums to n_src + |V|). The mixture-monitoring
    * primitive: a source whose token distribution wanders from the
    * corpus mix shows up as rising KL.
    *
    * Scale shape: token counts are (source × vocab)-bounded aggregates
    * (map-side combined); the per-source fold is one groupBy over that
    * bounded frame. The corpus text streams once.
    */
  def sourceDriftKl(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("source"),
        explode(TextFunctions.wsTokensCased(col("text"))).as("token"))
    val corpus = toks.groupBy("token")
      .agg(count(lit(1)).cast("double").as("c_corpus"))
    val nCorpus = corpus.agg(sum(col("c_corpus")).as("n_corpus"))
    val bySrc = toks.groupBy("source", "token")
      .agg(count(lit(1)).cast("double").as("c_src"))
    val srcTotals = bySrc.groupBy("source")
      .agg(sum(col("c_src")).as("n_src"))
    val vocabN = corpus.agg(count(lit(1)).cast("double").as("n_vocab"))
    // smoothed source distribution over the full corpus vocabulary:
    // p = (c_src + 1) / (n_src + |V|); q = c_corpus / n_corpus
    corpus.crossJoin(broadcast(srcTotals))
      .join(bySrc, Seq("source", "token"), "left")
      .na.fill(0.0, Seq("c_src"))
      .crossJoin(broadcast(nCorpus))
      .crossJoin(broadcast(vocabN))
      .select(col("source"),
        (((col("c_src") + lit(1.0)) / (col("n_src") + col("n_vocab"))) *
          log(((col("c_src") + lit(1.0)) / (col("n_src") + col("n_vocab"))) /
            (col("c_corpus") / col("n_corpus")))).as("term"))
      .groupBy("source")
      .agg(sum(col("term")).as("kl"), count(lit(1)).as("n_vocab_terms"))
  }

  /** Final per-word symbol table after `k` merges — (w, t, freq).
    * Exposed for the structural invariant spec: concatenating a
    * word's final symbols must reproduce the word.
    */
  private[graft] def bpeEncodeSymbols(documents: DataFrame, k: Int = 5): DataFrame =
    bpeLoop(documents, k)._2

  private def bpeLoop(documents: DataFrame,
                      k: Int): (DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    val words = documents
      .select(explode(TextFunctions.wsTokensCased(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      // split(w, "") keeps a trailing "" (limit -1 semantics) — drop it
      .select(col("w"),
        expr("filter(split(w, ''), x -> x != '')").as("t"),
        col("freq"))
      .localCheckpoint(true)

    val foldMerge = // greedy left-to-right merge of (l, r) in t
      """aggregate(
        |  t,
        |  struct(cast(array() as array<string>) as out,
        |         cast(null as string) as pending),
        |  (acc, x) -> case
        |    when acc.pending = l and x = r
        |      then struct(concat(acc.out, array(concat(l, r))) as out,
        |                  cast(null as string) as pending)
        |    when acc.pending is null
        |      then struct(acc.out as out, cast(x as string) as pending)
        |    else struct(concat(acc.out, array(acc.pending)) as out,
        |                cast(x as string) as pending) end,
        |  acc -> case when acc.pending is null then acc.out
        |              else concat(acc.out, array(acc.pending)) end)
        |""".stripMargin.replaceAll("\n", " ")

    var seqs = words
    val rules = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      // size<2 guard matters: Spark's sequence(1, 0) DESCENDS ([1,0])
      // rather than returning empty
      val pairs = seqs
        .filter(size(col("t")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) as l, element_at(t, i + 1) as r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
      val top = pairs
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc).limit(1)
        .localCheckpoint(true)
      rules += top.select(lit(round.toLong).as("round"),
        col("l"), col("r"), col("cnt"))
      if (top.isEmpty) {
        // no mergeable pair left (every word is down to one symbol, or
        // k exceeds the possible merges): the crossJoin below would
        // annihilate seqs to zero rows and silently empty every BPE
        // output — stop instead; rules ends with fewer than k rounds
        exhausted = true
      } else {
        seqs = seqs.crossJoin(broadcast(top.select(col("l"), col("r"))))
          .select(col("w"), expr(foldMerge).as("t"), col("freq"))
          .localCheckpoint(true)
        round += 1
      }
    }
    (rules.reduce(_.unionByName(_)).orderBy("round"), seqs)
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): each row draws key = u^(1/w) from a
    * content-addressed uniform u and its source's weight w; the global
    * top-`n` keys are the sample, with inclusion probability
    * proportional to w. Two engine-exactness tricks make the sample
    * reproducible anywhere: u comes from the first 13 md5 hex chars
    * (a 52-bit integer, so (v+0.5)/2^52 is an EXACT double), and
    * weights are restricted to powers of two so u^(1/w) is iterated
    * IEEE sqrt — correctly rounded by spec, hence bit-identical across
    * engines (an arbitrary-w pow() differs by libm ulps).
    *
    * Scale shape: per-row key computation at scan speed, then a
    * distributed top-n (TakeOrderedAndProject — per-partition heaps,
    * no global sort). Content-addressing makes the sample stable under
    * any reshuffle, the q30/q43 property.
    */
  def weightedSample(documents: DataFrame, weights: DataFrame,
                     n: Int): DataFrame = {
    val v = conv(substring(md5(col("text")), 1, 13), 16, 10).cast("long")
    val u = (v.cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
    // the sqrt-chain key is exact only for w in {1,2,4,8}; any other
    // weight would silently mis-key the draw (biased inclusion
    // probabilities), so the chain ends in raise_error instead of a
    // catch-all branch — fail-loud like the file's other contracts
    val key = when(col("w") === 1, u)
      .when(col("w") === 2, sqrt(u))
      .when(col("w") === 4, sqrt(sqrt(u)))
      .when(col("w") === 8, sqrt(sqrt(sqrt(u))))
      .otherwise(raise_error(concat(
        lit("weightedSample: weight must be one of {1,2,4,8}, got "),
        col("w"))).cast("double"))
    documents.join(broadcast(weights), "source")
      .select(col("doc_id"), col("source"), col("w"), key.as("key"))
      .orderBy(col("key").desc, col("doc_id").asc)
      .limit(n)
  }

  /** Token co-occurrence PMI over the top-`v` vocabulary: for token
    * pairs (t1 < t2) both drawn from the `v` highest-document-frequency
    * tokens, pmi = ln(D·c_xy / (c_x·c_y)) with c_* document
    * frequencies and D the corpus size. Reported for the `k` most
    * frequent co-occurring pairs.
    *
    * Scale shape: the vocabulary is a broadcast ≤v rows, so the
    * within-doc self-join is bounded at v²/2 pairs per document —
    * never a corpus cross product; the (doc, token) distinct and the
    * pair count are the only shuffles, both map-side combined.
    */
  def pmiCooccurrence(documents: DataFrame, v: Int = 50,
                      k: Int = 100): DataFrame = {
    // (doc, token) presence pairs feed the df count AND both sides of
    // the co-occurrence self-join — materialize the explode+distinct
    // once instead of three times (r16)
    val toks = documents
      .select(col("doc_id"),
        explode(TextFunctions.wsTokensCased(col("text"))).as("token"))
      .distinct()
      .localCheckpoint(true)
    val docFreq = toks.groupBy("token").agg(count(lit(1)).as("df"))
    val vocab = docFreq.orderBy(col("df").desc, col("token").asc).limit(v)
    val vt = toks.join(broadcast(vocab), "token")
    val nDocs = documents.agg(
      count(lit(1)).cast("double").as("n_docs"))
    vt.as("a")
      .join(vt.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("a.token") < col("b.token"))
      .groupBy(col("a.token").as("t1"), col("b.token").as("t2"))
      .agg(count(lit(1)).as("c_xy"),
        max(col("a.df")).cast("double").as("c_x"),
        max(col("b.df")).cast("double").as("c_y"))
      .crossJoin(broadcast(nDocs))
      .select(col("t1"), col("t2"), col("c_xy"),
        log(col("n_docs") * col("c_xy").cast("double") /
          (col("c_x") * col("c_y"))).as("pmi"))
      .orderBy(col("c_xy").desc, col("t1").asc, col("t2").asc)
      .limit(k)
  }

  def repetition(documents: DataFrame, n: Int = 3): DataFrame = {
    GraftFunctions.register(documents.sparkSession)
    val grams = HashFunctions.wordShingles(TextFunctions.wsTokens(col("text")), n)
    documents.select(
      col("doc_id"),
      size(grams).cast("long").as("n_grams"),
      size(array_distinct(grams)).cast("long").as("n_distinct"),
      (size(array_distinct(grams)).cast("double") /
        greatest(size(grams).cast("double"), lit(1.0))).as("distinct_ratio"))
  }

  /** Hashed-feature linear quality classifier (the fastText-style
    * shape used for corpus filtering): each token hashes into one of
    * `buckets` feature slots, each slot carries a fixed integer weight
    * in [-128, 127] (here derived deterministically from the slot id —
    * in production the trained weight table, broadcast), and a
    * document's score is the sum of its tokens' weights. Exact integer
    * arithmetic end to end; `keep` is the sign of the score.
    *
    * Scale: scored WITHOUT exploding tokens — the per-token hash →
    * bucket → weight chain and the sum run inside one `aggregate` HOF
    * over the token array, so the whole classifier is a zero-shuffle
    * per-row projection at scan speed (the same posture as
    * qualityMetrics). `buckets` is a power of two so the bucket id is
    * stable under any residue convention (2^64 ≡ 0 mod 2^k); the
    * weight range 256 divides 2^64 for the same reason.
    */
  def qualityClassifier(spark: SparkSession, documents: DataFrame,
                        buckets: Int = 4096): DataFrame = {
    GraftFunctions.register(spark)
    require((buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    def weight(t: org.apache.spark.sql.Column) = {
      val bucket = pmod(GraftFunctions.hash64Seeded(lit(1L), t),
        lit(buckets.toLong))
      pmod(GraftFunctions.hash64Seeded(lit(2L),
        concat(lit("w"), bucket.cast("string"))), lit(256L)) - lit(128L)
    }
    val toks = TextFunctions.wsTokens(col("text"))
    documents.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      aggregate(toks, lit(0L), (acc, t) => acc + weight(t)).as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        (col("score").cast("double") /
          greatest(col("n_tokens").cast("double"), lit(1.0))).as("mean_w"),
        (col("score") > 0).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** BM25 keyword retrieval: score every document containing at least
    * one query term against a small query-term table (Okapi BM25 with
    * the +1 "BM25L"-style idf that stays positive for common terms).
    * Emits the FULL posting-set scores — (query, doc, matched-term
    * count, score) — so the result is float-tolerance comparable; the
    * top-k cut is a trivial `ORDER BY score DESC LIMIT k` on top (see
    * TextFunctionsSpec), kept out of the oracle because a rank
    * boundary between two last-ulp-apart doubles is the one thing two
    * engines may legitimately disagree on.
    *
    * Scale: the query-term table broadcasts; `tf` is computed inside a
    * per-row `filter` HOF against the broadcast term (no token
    * explode, no (doc, token) shuffle — the classic inverted-index
    * build is never materialized). The only aggregations are the
    * 2-long global stats row, the |terms|-row df count (map-side
    * partial, |terms| rows on the wire), and the final per-(query,
    * doc) sum whose input is already pruned to matching docs. At
    * 100 TB this is one scan at projection speed + a posting-sized
    * shuffle keyed on (query_id, doc_id).
    */
  def bm25(documents: DataFrame, queries: Seq[(Long, Seq[String])],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val terms = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    // the tokenized corpus feeds THREE consumers (global stats, df,
    // candidate scoring) — materialize the one tokenize pass instead
    // of re-running scan+split per consumer (r16; the same
    // multi-reference discipline as prefixFilterJaccardPairs)
    val d = documents
      .select(col("doc_id"), TextFunctions.wsTokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .localCheckpoint(true)
    val stats = d.groupBy()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // df per distinct term: the broadcast nested-loop multiplies rows
    // only by |terms|, and the partial agg collapses to |terms| rows
    val dfT = d.crossJoin(broadcast(terms.select("term").distinct()))
      .filter(array_contains(col("toks"), col("term")))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val cand = d.crossJoin(broadcast(terms))
      .select(col("query_id"), col("term"), col("doc_id"), col("dl"),
        size(filter(col("toks"), x => x === col("term"))).cast("long")
          .as("tf"))
      .filter(col("tf") > 0)
    // every constant combination written as the explicit IEEE op so the
    // DuckDB oracle can reproduce it term by term (k1+1 is NOT the
    // same double as a literal 2.2)
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val w = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    cand.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", w)
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("w")).as("score"))
      .orderBy("query_id", "doc_id")
  }

  /** Bigram language-model quality scoring: per-document negative
    * log-likelihood under an add-half-smoothed corpus bigram model —
    * nll = −Σ ln((c(ab)+0.5)/(c(a)+0.5·V)) over the doc's bigrams.
    * The context-aware upgrade of q71's unigram NLL: word salad with
    * plausible unigrams ("the of and the") now scores badly because
    * its TRANSITIONS are rare. `nll_tok` is length-normalized for
    * thresholding.
    *
    * Scale: bigrams are built per row inside a `transform` HOF (no
    * position self-join), then the occurrence stream is immediately
    * pre-aggregated to `(doc_id, bigram) → m` — map-side combine
    * collapses every repeated transition within a doc BEFORE anything
    * shuffles, and each NLL term is weighted by `m` downstream.
    * Both model joins key on `xxhash64` 64-bit fingerprints of the
    * bigram / first token, so post-pre-agg exchanges move only long
    * keys and counts — never the strings (on a 100 TB corpus the
    * bigram strings dominate the shuffle otherwise). The corpus model
    * `c(ab)` is re-derived from the already-combined per-doc stream
    * (`sum(m)`), not a second pass over occurrences. Fingerprint
    * collisions merge two transitions' counts — vanishing at any
    * realistic vocabulary (birthday bound on 2^64) and harmless to a
    * smoothed LM score; the spec asserts the fixture is collision-free.
    * Docs with fewer than 2 tokens have no bigrams and drop out (both
    * engines derive output rows from the pair stream).
    */
  def bigramLogProb(documents: DataFrame): DataFrame = {
    val t = col("t")
    val d = documents
      .select(col("doc_id"), TextFunctions.wsTokens(col("text")).as("t"))
    // Spark's sequence(2, 1) DESCENDS — guard short docs explicitly
    val pairs = d.select(col("doc_id"),
        explode(when(size(t) >= 2,
          transform(sequence(lit(2), size(t)),
            i => concat_ws(" ", element_at(t, i - 1), element_at(t, i))))
          .otherwise(array().cast("array<string>"))).as("bg"))
    // occurrences → (doc, bigram-fp, first-token-fp, multiplicity):
    // the ONLY full-width shuffle; everything after moves longs
    val occ = pairs
      .groupBy(col("doc_id"), xxhash64(col("bg")).as("bgh"),
        xxhash64(substring_index(col("bg"), " ", 1)).as("w1h"))
      .agg(count(lit(1)).as("m"))
    val uni = d.select(explode(t).as("w"))
      .groupBy(xxhash64(col("w")).as("w1h")).agg(count(lit(1)).as("ca"))
    val v = uni.groupBy().agg(count(lit(1)).as("v"))
    val big = occ.groupBy("bgh").agg(sum(col("m")).as("cab"))
    occ
      .join(big, "bgh")
      .join(uni, "w1h")
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_bigrams"),
        sum(-log((col("cab") + lit(0.5)) /
          (col("ca") + lit(0.5) * col("v"))) * col("m")).as("nll"))
      .withColumn("nll_tok", col("nll") / col("n_bigrams"))
      .orderBy("doc_id")
  }

  /** Overlapping passage chunking (the RAG / retrieval-index unit):
    * each document becomes chunks of up to `window` tokens starting
    * every `stride` tokens (overlap = window - stride), with token
    * offsets and an md5 chunk fingerprint — the downstream embed/index
    * stages key on (doc_id, chunk_id). Differs from sequencePacking
    * (q45), which concatenates docs INTO fixed budgets; this splits
    * docs, preserving provenance offsets.
    *
    * Scale: per-row explode by ceil(dl/stride) — output size is
    * corpus-proportional, no shuffle at all (the orderBy is the
    * driver-compare canonicalization). Chunk starts are 0, stride,
    * 2·stride … while start < dl, so every token lands in ≥1 chunk and
    * the last chunk is never empty.
    */
  def passageChunks(documents: DataFrame, window: Int = 32,
                    stride: Int = 24): DataFrame = {
    require(stride > 0 && window >= stride, "need window >= stride > 0")
    val start = (col("chunk_id") * stride).cast("long")
    documents
      .select(col("doc_id"), TextFunctions.wsTokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .filter(col("dl") > 0)
      .withColumn("chunk_id",
        explode(sequence(lit(0L),   // Spark `/` on longs is a DOUBLE
          floor((col("dl") - 1L) / lit(stride.toLong)).cast("long"))))
      .withColumn("start_tok", start)
      .withColumn("n_tok", least(lit(window.toLong), col("dl") - start))
      .withColumn("chunk_text", array_join(
        slice(col("toks"), (start + 1L).cast("int"),
          col("n_tok").cast("int")), " "))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("n_tok"), col("chunk_text"),
        md5(col("chunk_text")).as("chunk_fp"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Per-document novelty: the fraction of a doc's distinct word
    * n-gram shingles whose FIRST corpus occurrence (min doc_id) is
    * this doc — the exact inter-document redundancy signal behind
    * "dedup the tail, keep the head" corpus curation (a doc of pure
    * boilerplate scores ~0, genuinely new text ~1). Docs with fewer
    * than n tokens have no shingles and drop out.
    *
    * Scale: shingles are per-row deduped and collapsed to 64-bit
    * polyhash digests BEFORE the explode, so the one unavoidable
    * shuffle (first-occurrence attribution, here a min-over window on
    * the digest) moves 16-byte rows, never n-gram strings. The final
    * per-doc rollup re-shuffles on doc_id at output width. This is the
    * exact form; the sketch form at extreme scale is a bloom/KMV
    * admission filter (q70/q95) with the same output contract.
    */
  def shingleNovelty(documents: DataFrame, n: Int = 3): DataFrame = {
    GraftFunctions.register(documents.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val sh = documents.select(col("doc_id"),
      explode(array_distinct(transform(
        HashFunctions.wordShingles(TextFunctions.wsTokens(col("text")), n),
        s => GraftFunctions.polyhash64(s)))).as("sh"))
    sh.withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("sh"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))
      .orderBy("doc_id")
  }

  /** Retrieval-quality evaluation over the q98 candidate sets: per
    * query MRR@k, nDCG@k, precision@k, recall@k against deterministic
    * content-hash relevance labels — the eval harness every retrieval
    * stack needs beside its scorer. The ranking key is deliberately
    * INTEGER (matched-term count desc, total tf desc, doc_id asc —
    * classic coordination-level ranking): a float-score rank boundary
    * between two last-ulp-apart doubles is the one thing two engines
    * can legitimately disagree on (why q98 emits scores, not ranks),
    * whereas this rank is bit-exact everywhere. Relevance = 52-bit
    * md5(query:doc) residue (mod 5 == 0, ~20%), the q30 trick — labels
    * follow content, so the eval is reproducible across re-ingestion.
    *
    * Metrics: mrr = 1/rank of the first relevant in the top k (a MAX
    * of single divisions — order-safe); dcg uses binary gain 1/ln(r+1);
    * idcg folds 1/ln(i+1) for i = 1..min(n_rel,k) in a fixed-order HOF
    * (`sequence` guarded: Spark's sequence(1,0) DESCENDS, so the
    * n_rel=0 case short-circuits to 0 before it is built).
    *
    * Scale: candidates come from the same broadcast-terms HOF scan as
    * q98 (no inverted index, no token explode); the per-query window
    * partitions on query_id — posting-set sized, top-k prunable via
    * WindowGroupLimit if only the metrics' k rows mattered.
    */
  def retrievalEval(documents: DataFrame, queries: Seq[(Long, Seq[String])],
                    k: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val terms = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val cand = documents
      .select(col("doc_id"), TextFunctions.wsTokens(col("text")).as("toks"))
      .crossJoin(broadcast(terms))
      .select(col("query_id"), col("doc_id"),
        size(filter(col("toks"), x => x === col("term"))).cast("long").as("tf"))
      .filter(col("tf") > 0)
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_sum"))
    val rel = (conv(substring(md5(concat(col("query_id").cast("string"),
        lit(":"), col("doc_id").cast("string"))), 1, 13), 16, 10)
        .cast("long") % 5L === 0L).cast("long")
    val ranked = cand.withColumn("rel", rel)
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("n_terms").desc, col("tf_sum").desc, col("doc_id").asc)))
    val inK = col("rank") <= k
    val agg = ranked.groupBy("query_id").agg(
      count(lit(1)).as("n_cand"),
      sum(col("rel")).as("n_rel"),
      sum(when(inK, col("rel")).otherwise(0L)).as("rel_at_k"),
      max(when(inK && col("rel") === 1L,
        lit(1.0) / col("rank")).otherwise(0.0)).as("mrr"),
      sum(when(inK && col("rel") === 1L,
        lit(1.0) / log(col("rank") + lit(1.0))).otherwise(0.0)).as("dcg"))
    val idcg = when(col("n_rel") === 0L, lit(0.0)).otherwise(
      aggregate(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))),
        lit(0.0), (acc, i) => acc + lit(1.0) / log(i.cast("double") + lit(1.0))))
    agg.withColumn("idcg", idcg)
      .select(col("query_id"), col("n_cand"), col("n_rel"), col("rel_at_k"),
        col("mrr"),
        when(col("idcg") > 0.0, col("dcg") / col("idcg"))
          .otherwise(lit(0.0)).as("ndcg"),
        (col("rel_at_k").cast("double") / lit(k.toDouble)).as("p_at_k"),
        when(col("n_rel") > 0L,
          col("rel_at_k").cast("double") / col("n_rel"))
          .otherwise(lit(0.0)).as("recall_at_k"))
      .orderBy("query_id")
  }

  /** Tokenizer-vocabulary coverage: build the top-`vocabSize` corpus
    * vocabulary (count desc, token asc — the tie-break makes the
    * boundary deterministic), then report each source's out-of-
    * vocabulary token rate. The standard pre-training check that a
    * tokenizer/vocab fits a new corpus slice before it is mixed in —
    * a high-OOV source is either foreign-language, boilerplate-coded,
    * or garbage.
    *
    * Scale: the vocab build aggregates (token, count) — Zipf-bounded,
    * orders of magnitude below corpus size — and `orderBy.limit(V)`
    * plans as TakeOrderedAndProject (distributed top-k, no global
    * sort). The scoring pass re-aggregates the token stream per source
    * with the V-row vocab broadcast into a left join: map-side partials
    * collapse to |sources| rows on the wire; the corpus side never
    * wide-shuffles. `oov_rate` is one integer÷integer IEEE division.
    */
  def vocabCoverage(documents: DataFrame, vocabSize: Int = 500): DataFrame = {
    val toks = documents.select(col("doc_id"), col("source"),
        explode(TextFunctions.wsTokens(col("text"))).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("source").agg(
        count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
      .orderBy("source")
  }

  /** Deterministic word-dropout augmentation: drop every token whose
    * md5(doc_id:position:token) 52-bit residue falls below `rate10`
    * tenths — the reproducible text-augmentation primitive (train-time
    * noise that is a pure function of content + position, so re-runs,
    * retries, and engine swaps regenerate the identical corpus; an RNG
    * here would make every epoch's data lineage unreproducible).
    *
    * Scale: strictly per-row (scan speed, zero shuffle); the indexed
    * `filter` HOF keeps position semantics without a posexplode +
    * re-agg round trip. Spark lambda indices are 0-based, DuckDB's are
    * 1-based — the hashed position is the 1-based ordinal on both.
    */
  def wordDropout(documents: DataFrame, rate10: Int = 1): DataFrame = {
    require(rate10 >= 0 && rate10 <= 10, "rate10 in [0,10]")
    val toks = TextFunctions.wsTokens(col("text"))
    documents
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n_orig", size(col("toks")).cast("long"))
      .filter(col("n_orig") > 0L)
      .withColumn("kept", filter(col("toks"), (x, i) =>
        conv(substring(md5(concat_ws(":",
            col("doc_id").cast("string"),
            (i + lit(1)).cast("string"), x)), 1, 13), 16, 10)
          .cast("long") % 10L >= rate10.toLong))
      .select(col("doc_id"), col("n_orig"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("aug_text"),
        ((col("n_orig") - size(col("kept")).cast("long")).cast("double") /
          col("n_orig")).as("drop_rate"))
      .orderBy("doc_id")
  }

  /** Per-source and global token-length percentile calibration:
    * pct = (#docs with strictly smaller n_tokens) / (n − 1) — exactly
    * SQL percent_rank, but keyed on an INTEGER so the rank comparison
    * can never flip on a float ulp between engines. The cross-source
    * normalizer used before mixing corpora whose raw length
    * distributions differ (a "long" doc in tweets is a "short" doc in
    * books).
    *
    * Scale: deliberately NOT a global percent_rank window (that is a
    * full single-partition sort of the corpus). The distribution is
    * collapsed to a (n_tokens → count) histogram — bounded by the
    * length domain, not the corpus — cumulated with a window over the
    * tiny histogram, and broadcast-joined back onto the scan. The
    * DuckDB oracle runs the textbook percent_rank windows, proving the
    * histogram form computes the identical result.
    */
  def lengthCalibration(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = documents.select(col("doc_id"), col("source"),
      size(TextFunctions.wsTokens(col("text"))).cast("long").as("n_tokens"))
    val unb = Window.unboundedPreceding
    val gHist = d.groupBy("n_tokens").agg(count(lit(1)).as("c"))
      .withColumn("less_g", coalesce(sum(col("c")).over(
        Window.orderBy("n_tokens").rowsBetween(unb, -1)), lit(0L)))
      .select(col("n_tokens"), col("less_g"))
    val sHist = d.groupBy("source", "n_tokens").agg(count(lit(1)).as("c"))
      .withColumn("less_s", coalesce(sum(col("c")).over(
        Window.partitionBy("source").orderBy("n_tokens")
          .rowsBetween(unb, -1)), lit(0L)))
      .select(col("source"), col("n_tokens"), col("less_s"))
    val nG = d.groupBy().agg(count(lit(1)).as("n_g"))
    val nS = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    d.join(broadcast(gHist), Seq("n_tokens"))
      .join(broadcast(sHist), Seq("source", "n_tokens"))
      .join(broadcast(nS), Seq("source"))
      .crossJoin(broadcast(nG))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        when(col("n_s") > 1L,
          col("less_s").cast("double") / (col("n_s") - 1L))
          .otherwise(lit(0.0)).as("pct_source"),
        when(col("n_g") > 1L,
          col("less_g").cast("double") / (col("n_g") - 1L))
          .otherwise(lit(0.0)).as("pct_global"))
      .orderBy("doc_id")
  }

  /** Character-level Shannon entropy per document — the Gopher-family
    * quality signal that catches what token ratios miss: mashed-key
    * garbage scores HIGH (near-uniform chars), template/repeated
    * boilerplate scores LOW. entropy = ln(N) − (Σ cᵢ·ln cᵢ)/N over the
    * doc's character histogram; `evenness` normalizes by ln(distinct)
    * to [0,1] for thresholding across lengths.
    *
    * Scale: strictly per-row (zero shuffle, scan speed). The histogram
    * fold runs over the SORTED distinct-character array, so the
    * floating sum has one deterministic fold order on every engine —
    * a groupBy(doc, char) + sum formulation would re-order the adds
    * per run. In-row cost is O(|text|·|alphabet|); alphabet-bounded,
    * not length-quadratic. Empty texts drop (both engines derive rows
    * from the non-empty char array).
    */
  def charEntropy(documents: DataFrame): DataFrame = {
    val chars = filter(split(col("text"), ""), c => length(c) > 0)
    documents
      .select(col("doc_id"), chars.as("ch"))
      .withColumn("n", size(col("ch")).cast("long"))
      .filter(col("n") > 0L)
      .withColumn("cnts", transform(array_sort(array_distinct(col("ch"))),
        x => size(filter(col("ch"), y => y === x)).cast("double")))
      .select(col("doc_id"), col("n").as("n_chars"),
        size(col("cnts")).cast("long").as("n_unique"),
        (log(col("n").cast("double")) -
          aggregate(col("cnts"), lit(0.0), (acc, c) => acc + c * log(c)) /
            col("n").cast("double")).as("entropy"))
      .withColumn("evenness",
        when(col("n_unique") > 1L,
          col("entropy") / log(col("n_unique").cast("double")))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** Inverted-index construction (the retrieval-index build step):
    * per term, document frequency over the whole corpus plus a CAPPED
    * posting list — the first `cap` doc_ids in ascending order,
    * comma-joined (strings compare bit-exactly across engines; a
    * native array column would differ only in container repr).
    *
    * Scale: per-doc `array_distinct` bounds the explode to distinct
    * terms per doc; `df` is a count-only aggregate (never a list);
    * the posting list is rank-filtered BEFORE collection, so no
    * aggregation buffer ever holds more than `cap` entries — a
    * stopword's millions of docs cost a WindowGroupLimit-pruned
    * top-cap per term, not an unbounded collect_list. Postings and
    * df ride the same (term)-keyed shuffle pair.
    */
  def postingLists(documents: DataFrame, cap: Int = 16): DataFrame = {
    val toks = documents.select(col("doc_id"),
      explode(array_distinct(TextFunctions.wsTokens(col("text")))).as("term"))
    val dfv = toks.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    val capped = toks
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= cap)
      .groupBy("term")
      .agg(
        concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("postings"),
        count(lit(1)).as("n_postings"))
    dfv.join(capped, "term").orderBy("term")
  }

  /** Temperature-weighted source mixture (the multilingual/multi-source
    * LM mixing rule): raw source probability p_raw ∝ token count, and
    * sampling probability p_temp ∝ p_raw^alpha renormalized —
    * alpha < 1 upsamples the tail, alpha = 1 is proportional, alpha = 0
    * is uniform. `upsample = p_temp / p_raw` is the per-source
    * replication factor a sampler applies.
    *
    * Scale: one count/sum aggregate per source (map-side combined) —
    * the corpus is scanned exactly ONCE; the normalizing totals are
    * global-window sums over the |sources|-row aggregate (the
    * single-partition WindowExec warning is that ~20-row frame, q111's
    * documented pattern — cross-joining broadcast scalar aggregates
    * instead would re-derive the aggregate from its own scan and read
    * the corpus three times).
    */
  /** q118 — cross-document repeated-substring spans (the Lee et al.
    * 2022 "Deduplicating Training Data" shape) at finer grain than
    * q62's fixed k-token segments: every n-token shingle occurring at
    * ≥ 2 positions corpus-wide marks its start position as duplicated,
    * and maximal CONSECUTIVE runs of duplicated positions within a doc
    * chain-extend into spans `[span_start, span_end]` (token indices,
    * end inclusive: last run position + n − 1). Spans shorter than
    * `minSpanTokens` are noise and dropped; the surviving (doc, span)
    * pairs are what a curation pass cuts out of the text.
    *
    * Scale: NO suffix-array global sort — the duplicate test is one
    * shuffle keyed on the shingle (window count over it), the chain
    * extension one per-doc window; both are bounded keys. Within-doc
    * repeats count toward the ≥ 2 threshold, matching the reference
    * semantics (any second occurrence anywhere is a duplicate). In
    * production the shingle string would shuffle as xxhash64(s) — kept
    * as the string here so the oracle needs no hash mirroring (a
    * 64-bit collision would silently merge two shingles' counts).
    */
  def repeatedSubstringSpans(documents: DataFrame, n: Int = 8,
                             minSpanTokens: Int = 16): DataFrame = {
    GraftFunctions.register(documents.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val sh = documents
      .select(col("doc_id"), TextFunctions.wsTokens(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"),
        posexplode(HashFunctions.wordShingles(col("t"), n)).as(Seq("pos", "s")))
    val dup = sh
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("occ") >= 2)
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands: consecutive duplicated positions share
    // pos − row_number, so one groupBy collapses each maximal run
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(n - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
  }

  /** q119 — the actionable half of [[repeatedSubstringSpans]]: cut
    * every detected span out of its document and rebuild the text
    * from the surviving tokens (ALL copies are removed — the Lee et
    * al. ExactSubstr policy; a keep-first variant would anti-join the
    * spans against a first-occurrence rank instead). Emits every doc
    * (left join): untouched docs pass through with `n_removed = 0`.
    *
    * Scale: the spans frame is tiny relative to the corpus (one row
    * per detected run), grouped to a per-doc array and joined back on
    * doc_id — one extra bounded-key shuffle on top of q118; the cut
    * itself is a per-row HOF filter (position ∉ any span), no explode
    * of token positions.
    */
  def removeRepeatedSubstrings(documents: DataFrame, n: Int = 8,
                               minSpanTokens: Int = 16): DataFrame = {
    val spans = repeatedSubstringSpans(documents, n, minSpanTokens)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("spans"))
    val toks = documents.select(col("doc_id"),
      TextFunctions.wsTokens(col("text")).as("t"))
    toks.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        when(col("spans").isNull, col("t")).otherwise(
          expr("filter(t, (x, i) -> NOT exists(spans, r -> r.s <= i AND i <= r.e))"))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("rebuilt"))
  }

  def temperatureMixture(documents: DataFrame, alpha: Double = 0.3): DataFrame = {
    val per = documents
      .select(col("source"),
        size(TextFunctions.wsTokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    per
      .withColumn("p_raw",
        col("n_tokens").cast("double") / sum(col("n_tokens")).over(all))
      .withColumn("pa", pow(col("p_raw"), lit(alpha)))
      .withColumn("p_temp", col("pa") / sum(col("pa")).over(all))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("p_raw"),
        col("p_temp"), (col("p_temp") / col("p_raw")).as("upsample"))
      .orderBy("source")
  }

  /** PII patterns shared by [[piiScrub]] and its oracle: each is a
    * fixed-shape regex valid in BOTH Java regex (Spark) and RE2
    * (DuckDB) — no backrefs, no lookaround, so the two engines agree
    * on every match. Redaction applies in this exact order.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9.]+@[a-z0-9]+\\.[a-z]{2,4}", "<EMAIL>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"))

  /** PII detection + redaction (q144) — the scrubbing pass every
    * training-data pipeline runs before release (emails, phones, IPs,
    * id numbers → placeholder tokens). The synthetic corpus carries no
    * organic PII, so docs with doc_id % 97 == 0 get a deterministic
    * PII suffix appended first (same construction in the oracle): the
    * query then proves detection counts AND the redacted text against
    * an independent regex engine — a cross-engine regex-semantics
    * check, not just a hash echo. Per-row projections only; at scale
    * this runs at scan speed like the quality metrics.
    */
  def piiScrub(documents: DataFrame): DataFrame = {
    val suffix = concat(lit(" contact user"), col("doc_id"),
      lit("@example.com call 415-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" from 10.0."), pmod(col("doc_id"), lit(256)), lit(".7 ssn 123-45-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    val withPii = documents.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(97)) === 0, concat(col("text"), suffix))
        .otherwise(col("text")).as("t"))
    val counted = PiiPatterns.foldLeft(withPii) { case (df, (name, pat, _)) =>
      df.withColumn(s"n_$name", regexp_count(col("t"), lit(pat)).cast("long"))
    }
    val redacted = PiiPatterns.foldLeft(col("t")) { case (c, (_, pat, tok)) =>
      regexp_replace(c, pat, tok)
    }
    counted.select(col("doc_id"), col("n_email"), col("n_ip"), col("n_ssn"),
      col("n_phone"), md5(redacted).as("redacted_md5"))
  }

  /** Blocklist filtering (q145) — the C4-style wordlist gate: count
    * blocklisted token occurrences per document and keep documents
    * whose hit share stays under `pctThreshold` percent (the
    * comparison is pure integer arithmetic — n_hits·100 < n_tokens·pct
    * — so the keep decision is boundary-exact on any engine). The
    * list rides as an expression literal: scan-speed, no join.
    */
  def blocklistFilter(documents: DataFrame,
                      blocklist: Seq[String] = Seq("slow", "error", "crash"),
                      pctThreshold: Int = 3): DataFrame = {
    val toks = split(lower(col("text")), " ")
    val hits = size(filter(toks, t => t.isInCollection(blocklist)))
    documents.select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        hits.cast("long").as("n_hits"))
      .withColumn("kept",
        col("n_hits") * 100 < col("n_tokens") * pctThreshold)
  }

  /** Hybrid retrieval with reciprocal-rank fusion (q147) — the
    * lexical+dense combination every production RAG stack runs:
    * BM25 ranks (the [[bm25]] scorer) and embedding-cosine ranks
    * ([[Similarity.bruteForceTopK]] — swap the ANN tier at scale)
    * fused per query by RRF (Cormack et al., SIGIR'09):
    * rrf(d) = Σ_rankings 1/(k + rank_d). Ranks are INTEGERS, so the
    * fused scores are bit-identical on both engines given the same
    * rankings; the BM25 ranking orders by the r4-FLOORED score (then
    * doc_id) so cross-engine 1e-15 score noise cannot flip a rank.
    * query_id doubles as the query's embedding vec_id (the fixture
    * aligns doc_id ↔ vec_id).
    *
    * Known asymmetry (oracle-pinned): the embedding side rides
    * [[graft.operators.Similarity.bruteForceTopK]], which EXCLUDES the
    * query's own vector (query_id ≠ neighbor_id — the ANN convention),
    * while the BM25 side ranks every document including the query's
    * own. A doc identical to its query therefore earns only the BM25
    * term of the fused score. Both engines compute the same fusion
    * (the oracle mirrors the exclusion), so results match; a caller
    * fusing for retrieval-quality rather than dedup may want to drop
    * the query doc from BOTH sides — a semantic change that would
    * re-cut q147's certified output, so it is documented rather than
    * silently altered.
    *
    * Scale: both rankings are WindowGroupLimit-capped top-`kTop`
    * per query before the fusion join; the full-outer fusion joins
    * two (queries × kTop)-row frames — trivially small however large
    * the corpus.
    */
  def hybridRrf(spark: SparkSession, documents: DataFrame,
                embeddings: DataFrame, queries: Seq[(Long, Seq[String])],
                kTop: Int = 20, kRrf: Int = 60, kOut: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = bm25(documents, queries)
    val wB = Window.partitionBy(col("query_id"))
      .orderBy((floor(col("score") * 10000 + lit(0.5)) / 10000).desc,
        col("doc_id").asc)
    val bmRank = bm.withColumn("r_bm", row_number().over(wB))
      .filter(col("r_bm") <= kTop)
      .select(col("query_id"), col("doc_id"), col("r_bm").cast("long").as("r_bm"))
    val qEmb = embeddings.filter(col("vec_id").isInCollection(queries.map(_._1)))
    val emRank = Similarity.bruteForceTopK(spark, embeddings, qEmb, kTop)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("r_em"))
    val fused = bmRank.join(emRank, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("r_bm"), col("r_em"),
        (coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("r_bm")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("r_em")), lit(0.0)))
          .as("rrf"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= kOut)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("r_bm"), col("r_em"), col("rrf"))
  }

  /** Token-budget prefix fill per source (q159) — "cut each source to
    * N tokens": walk the source's documents in a deterministic
    * priority order and keep the prefix whose cumulative token count
    * stays within the budget (shard-writer fill semantics — the first
    * overflowing document and everything after it is cut; this is the
    * streaming-fill rule, not a knapsack repack). The priority here is
    * the content-addressed md5 order (an unbiased shuffle, stable
    * under recomputation); any scoring column — quality rank,
    * curriculum difficulty, recency — drops in the same slot.
    *
    * Scale: the per-source running sum rides
    * [[graft.operators.ScaleOps.groupedCumSum]]'s range shuffle, so a
    * mega-source spreads over the cluster instead of serializing into
    * one window partition (the r11 retirement of that caveat; the
    * pre-r11 advice was pre-splitting by (source, md5-range)).
    */
  def tokenBudgetFill(documents: DataFrame,
                      budget: Long = 800L): DataFrame = {
    val toks = TextFunctions.wsTokens(col("text"))
    val pr = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
    ScaleOps.groupedCumSum(
        documents.select(col("doc_id"), col("source"),
          size(toks).cast("long").as("n_tokens"), pr.as("priority")),
        Seq("source"), Seq(col("priority").asc, col("doc_id").asc),
        "n_tokens", cumCol = "cum_tokens")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("priority"), col("cum_tokens"),
        (col("cum_tokens") <= budget).as("kept"))
  }

  /** Deterministic training-shard manifest (q157) — the last step of
    * every corpus build: assign each document to one of `nShards`
    * output shards by a CONTENT-ADDRESSED key (seeded hash of the
    * doc id — reshuffle-stable, rerun-stable, no round-robin
    * coordination), and emit the per-shard manifest a trainer
    * checks before reading: doc count, byte budget, per-mille share
    * of the corpus (the balance check), id range, and an
    * order-independent integrity fingerprint (sum of 60-bit md5
    * prefixes in DECIMAL(38,0) — commutative, so shard writers can
    * emit partials in any order; HUGEINT-exact on the oracle side).
    *
    * Scale: one scan; the groupBy carries `nShards` rows; the total
    * is a 1-row broadcast. The manifest IS the driver artifact.
    */
  def shardManifest(documents: DataFrame, nShards: Int = 16): DataFrame = {
    val spark = documents.sparkSession
    GraftFunctions.register(spark)
    val sharded = documents.select(col("doc_id"), col("n_chars"),
      pmod(GraftFunctions.hash64Seeded(lit(7L), col("doc_id").cast("string")),
        lit(nShards.toLong)).as("shard_id"),
      conv(substring(md5(col("text")), 1, 15), 16, 10)
        .cast("decimal(38,0)").as("fp"))
    val tot = sharded.agg(sum(col("n_chars")).as("total_bytes"))
    sharded.groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_bytes"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(col("fp")).as("fpsum"))
      .crossJoin(broadcast(tot))
      .select(col("shard_id"), col("n_docs"), col("sum_bytes"),
        floor(col("sum_bytes") * 1000 / col("total_bytes")).cast("long")
          .as("permille"),
        col("min_doc"), col("max_doc"),
        col("fpsum").cast("decimal(38,0)").cast("string").as("fingerprint"))
  }

  /** URL canonicalization dedup (q153) — the CommonCrawl-style
    * "same page, many spellings" collapse: lowercase the
    * scheme://host[:port] authority, strip a default :80 port, strip
    * `utm_*` tracking params (healing the ?/& separators), strip the
    * fragment — then keep the min-doc_id fetch per canonical URL.
    * Deterministic messy URLs are INJECTED from doc_id (the
    * q144/q146 convention: variants exist, and the oracle becomes a
    * Java-regex-vs-RE2 cross-check on real matches): per ~120-doc
    * group the same logical page appears with upper-cased host,
    * explicit :80, an occasional real :8080 (which must NOT collapse),
    * tracking params, and fragments.
    *
    * Scale: canonicalization is per-row regex at scan speed; the
    * min/count ride one window over the canonical-url hash partition
    * (groups are page-fetch sized). No joins.
    */
  def urlCanonicalDedup(documents: DataFrame): DataFrame = {
    val g = pmod(col("doc_id"), lit(120))
    val base = concat(lit("www.site"), pmod(g, lit(30)).cast("string"),
      lit(".example.com"))
    val host = when(pmod(col("doc_id"), lit(3)) === 0, upper(base))
      .otherwise(base)
    val port = when(pmod(col("doc_id"), lit(4)) === 0, lit(":80"))
      .when(pmod(col("doc_id"), lit(10)) === 7, lit(":8080"))
      .otherwise(lit(""))
    val path = concat(lit("/articles/"), g.cast("string"))
    val query = when(pmod(col("doc_id"), lit(2)) === 0,
      concat(lit("?utm_source=feed&id="), pmod(g, lit(5)).cast("string"),
        lit("&utm_campaign=c")))
      .otherwise(concat(lit("?id="), pmod(g, lit(5)).cast("string")))
    val frag = when(pmod(col("doc_id"), lit(5)) === 0, lit("#section2"))
      .otherwise(lit(""))
    val url = concat(lit("https://"), host, port, path, query, frag)
    val c0 = regexp_replace(url, "#.*$", "")
    val auth = regexp_extract(c0, "^(https?://[^/?]*)", 1)
    val c1 = concat(lower(auth), regexp_replace(c0, "^https?://[^/?]*", ""))
    val c2 = regexp_replace(c1, ":80(/|\\?|$)", "$1")
    val c3 = regexp_replace(c2, "&utm_[a-z]+=[^&]*", "")
    val c4 = regexp_replace(c3, "\\?utm_[a-z]+=[^&]*&", "?")
    val c5 = regexp_replace(c4, "\\?utm_[a-z]+=[^&]*$", "")
    import org.apache.spark.sql.expressions.Window
    val byCanon = Window.partitionBy(col("canonical_url"))
    documents
      .select(col("doc_id"), url.as("raw_url"), c5.as("canonical_url"))
      .withColumn("n_variants", count(lit(1)).over(byCanon).cast("long"))
      .withColumn("kept", col("doc_id") === min(col("doc_id")).over(byCanon))
      .select(col("doc_id"), col("raw_url"), col("canonical_url"),
        col("n_variants"), col("kept"))
  }

  /** DSIR-style importance selection (q152) — Data Selection via
    * Importance Resampling (Xie et al., NeurIPS 2023): score every raw
    * document by how target-like its HASHED n-gram features are, then
    * keep the most target-like slice per source. Features are hashed
    * word unigrams in `buckets` power-of-two buckets (the q96 seed-1
    * hash, so the oracle's bucket CTE is shared); the per-bucket
    * importance is the smoothed target/raw probability ratio
    *   ŵ_b = (cnt_t(b)+1)/(T+B) ÷ (cnt_r(b)+1)/(R+B).
    * DEVIATION for determinism: the paper's per-token log-ratio sum is
    * replaced by the sum of INTEGER-quantized ratios
    * floor(ŵ_b · 65536) — cross-engine libm `ln` differs in the last
    * ulp, an integer quantization doesn't; the ranking this produces is
    * monotone in the arithmetic-mean importance instead of the
    * geometric-mean one, which preserves the "most target-like first"
    * contract the selection needs. The quantized products ride in
    * DECIMAL(38,0) (HUGEINT on the oracle side), so the arithmetic is
    * exact up to corpus sizes of ~10³⁰ tokens.
    *
    * Selection: per-source top-1/`keepDen` by (mean importance desc,
    * doc_id) — a per-source window rank, never a global sort.
    *
    * Scale: the bucket-count aggregates collapse to ≤ B rows via
    * map-side combine; the B-row weight frame broadcasts back onto the
    * token explode (a doc's tokens stay row-local, so the per-doc sum
    * also map-side-combines to one row per doc before the shuffle).
    */
  def dsirSelect(documents: DataFrame, buckets: Int = 4096,
                 targetLang: String = "en", keepDen: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    GraftFunctions.register(spark)
    require((buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    val toks = documents.select(col("doc_id"), col("source"), col("lang"),
      explode(TextFunctions.wsTokens(col("text"))).as("token"))
      .withColumn("bucket",
        pmod(GraftFunctions.hash64Seeded(lit(1L), col("token")),
          lit(buckets.toLong)))
    val cntR = toks.groupBy("bucket").agg(count(lit(1)).as("cnt_r"))
    val cntT = toks.filter(col("lang") === targetLang)
      .groupBy("bucket").agg(count(lit(1)).as("cnt_t"))
    val totR = cntR.agg(sum(col("cnt_r")).as("big_r"))
    val totT = cntT.agg(sum(col("cnt_t")).as("big_t"))
    val dec = "decimal(38,0)"
    val w = cntR.join(cntT, Seq("bucket"), "left")
      .na.fill(0L, Seq("cnt_t"))
      .crossJoin(broadcast(totR))
      .crossJoin(broadcast(totT))
      .select(col("bucket"),
        floor_div_dec(
          (col("cnt_t") + 1).cast(dec) * (col("big_r") + buckets).cast(dec)
            * lit(65536).cast(dec),
          (col("cnt_r") + 1).cast(dec) * (col("big_t") + buckets).cast(dec))
          .cast("long").as("w"))
    val scored = toks.join(broadcast(w), Seq("bucket"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("w")).cast("long").as("score"))
      .withColumn("norm", floor(col("score") / col("n_tokens")).cast("long"))
    // per-source keep ranks via ScaleOps.groupedRank — the source-
    // partitioned window sorted each source's doc frame in one task
    ScaleOps.groupedRank(scored, Seq("source"),
        Seq(col("norm").desc, col("doc_id").asc),
        rankCol = "rank", countCol = "n_src")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("score"),
        col("norm"),
        (col("rank") * keepDen <= col("n_src")).as("kept"))
  }

  /** Exact floor division on decimals: decimal `/` rounds HALF_UP, so
    * derive the floor from the quotient×divisor remainder instead.
    */
  private def floor_div_dec(a: org.apache.spark.sql.Column,
                            b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val q = (a / b).cast("decimal(38,0)")
    when(q * b > a, q - 1).otherwise(q)
  }

  /** Length-distribution-matched resampling (q143) — reweight each
    * source so its document-LENGTH histogram matches the corpus-wide
    * histogram (the mixture-rebalancing sibling of q43's per-source
    * rates): per (source, bucket) the acceptance weight is
    * min(1, corpus_share(bucket) / source_share(bucket)), and a
    * document survives iff its md5-uniform draw falls under the
    * weight (content-addressed like q30/q43 — reshuffle-stable).
    * Both engines derive the weight from IDENTICAL integer counts
    * with the same expression, so even the accept/reject boundary is
    * bit-deterministic. The corpus is aggregated ONCE at the finest
    * (source × bucket) grain — a checkpointed KB-scale frame — and
    * every coarser total (per bucket, per source, global) re-sums
    * that frame, so the histogram costs one scan however large the
    * corpus; all four tiny frames broadcast back onto the doc scan.
    */
  def lengthMatchedResample(documents: DataFrame,
                            bucketWidth: Int = 100): DataFrame = {
    val docs = documents.select(col("doc_id"), col("source"), col("text"),
      floor(col("n_chars") / lit(bucketWidth)).cast("long").as("bucket"))
    val sb = docs.groupBy("source", "bucket").agg(count(lit(1)).as("n_sb"))
      .localCheckpoint(true)
    val bTot = sb.groupBy("bucket").agg(sum(col("n_sb")).as("n_b"))
    val sTot = sb.groupBy("source").agg(sum(col("n_sb")).as("n_s"))
    val tot = sb.agg(sum(col("n_sb")).as("n"))
    val u = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long")
    docs
      .join(broadcast(sb), Seq("source", "bucket"))
      .join(broadcast(bTot), Seq("bucket"))
      .join(broadcast(sTot), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("source"), col("bucket"),
        least(lit(1.0), (col("n_b") / col("n")) / (col("n_sb") / col("n_s")))
          .as("keep_frac"),
        (u < floor(least(lit(1.0),
          (col("n_b") / col("n")) / (col("n_sb") / col("n_s")))
          * 65536).cast("long")).as("kept"))
  }

  /** Robust winnowing fingerprints (q176) — Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 (the MOSS algorithm): hash every character k-gram, then
    * over each window of `w` consecutive k-gram hashes select the
    * minimum, RIGHTMOST on ties; the distinct selected positions are
    * the document's fingerprints. Guarantees: any shared substring of
    * length ≥ w+k−1 yields a shared fingerprint (detection), and every
    * window selects something (density ≥ 1/w — gaps between selected
    * positions never exceed w).
    *
    * Spark-first formulation: the textbook per-window argmin is a
    * sequential scan, but "j is the rightmost min of SOME window" has
    * an exact local characterization — with L = how many consecutive
    * predecessors have hash ≥ h(j) (ties allowed, array-bounded) and
    * R = how many consecutive successors have hash > h(j) (strict),
    * position j is selected iff L + R + 1 ≥ w: a window [p, p+w−1]
    * fits around j (left extent ≤ L keeps j minimal, right extent ≤ R
    * keeps it rightmost-minimal), and in-bounds-ness falls out of
    * lag/lead nulls stopping the chains. For w = 4 that is three lags
    * + three leads over one (doc_id, pos) window — O(1) per row, one
    * shuffle on doc_id, no self-join over the pair space. Equivalence
    * to the textbook scan is property-tested (WinnowingSpec).
    *
    * Hashes are polyhash64 folded to 32 bits (nonneg in a BIGINT) so
    * the DuckDB oracle's HUGEINT fold compares identically; per-doc
    * output certifies the full selected SET (count + sum + min + max),
    * not just a sample.
    */
  def winnowFingerprints(documents: DataFrame, k: Int = 8,
                         w: Int = 4): DataFrame = {
    require(w >= 2, s"winnow window must be >= 2, got $w")
    val spark = documents.sparkSession
    GraftFunctions.register(spark)
    // repartition on doc_id BEFORE the gram explode (r17, guide §2.3/§8):
    // the per-doc window below needs HashPartitioning(doc_id) anyway, and
    // establishing it on the DOC-grain rows means the exchange moves
    // ~n_chars bytes of text per doc instead of ~n_chars gram rows of
    // (doc_id, pos, h) — an order of magnitude fewer shuffle bytes — and
    // the explode+hash work parallelizes across the cluster regardless
    // of the input file split layout (one fat parquet split otherwise
    // serializes the whole gram stage into its scan task).
    val grams = documents
      .select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        posexplode(HashFunctions.charShingles(col("text"), k))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        pmod(GraftFunctions.polyhash64(col("gram")), lit(4294967296L))
          .as("h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // consecutive-neighbor chains, both stopped by the first failing
    // (or out-of-bounds ⇒ null ⇒ false) comparison
    val lChain = (1 until w).map(i => lag(col("h"), i).over(win) >= col("h"))
    val rChain = (1 until w).map(i => lead(col("h"), i).over(win) > col("h"))
    def chainLen(cs: Seq[org.apache.spark.sql.Column]) =
      cs.foldRight(lit(0))((c, acc) => when(c, acc + 1).otherwise(0))
    val sel = grams
      .withColumn("sel",
        chainLen(lChain) + chainLen(rChain) + 1 >= w)
    sel.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_fps"),
        sum(when(col("sel"), col("h"))).as("fp_sum"),
        min(when(col("sel"), col("h"))).as("fp_min"),
        max(when(col("sel"), col("h"))).as("fp_max"))
  }
}
