package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextFunctions}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(Tuple1(text)).toDF("text")

  test("token counts: whitespace vs BPE-ish") {
    val df = one("Hello, world! This is fine.")
    val r = df.select(
      TextFunctions.tokenCountWs(col("text")).as("ws"),
      TextFunctions.tokenCountBpe(col("text")).as("bpe")).head
    assert(r.getAs[Int]("ws") == 5)
    // tokens: Hello , world ! This is fine . -> 8
    assert(r.getAs[Int]("bpe") == 8)
  }

  test("sequence packing: docs assigned to the budget-chunk they start in") {
    // per-source doc_id order; budget 2048 tokens per sequence
    // s1: doc 1 (1200 tok, starts at 0 -> seq 0), doc 2 (900 tok, starts at 1200 -> seq 0),
    //     doc 3 (100 tok, starts at 2100 -> seq 1), doc 4 (3000 tok, starts at 2200 -> seq 1)
    // s2: doc 5 (2048 tok, starts at 0 -> seq 0), doc 6 (1 tok, starts at 2048 -> seq 1)
    assert(graft.operators.TextAnalysis.PackTokens == 2048)
    def toks(n: Int) = Seq.fill(n)("a").mkString(" ")
    val d = Seq(
      (1L, toks(1200), "s1"), (2L, toks(900), "s1"), (3L, toks(100), "s1"),
      (4L, toks(3000), "s1"), (5L, toks(2048), "s2"), (6L, toks(1), "s2"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.TextAnalysis.sequencePacking(d)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L, 6L -> 1L))
  }

  test("length-percentile filter drops each source's shortest fraction") {
    // s1 has 5 docs with 1..5 tokens: dropping below 0.2 removes only the
    // 1-token doc (pr 0.0); all of tiny s2 with pr {0, 1} keeps the max
    val d = ((1L to 5L).map(i => (i, ("w " * i.toInt).trim, "s1")) ++
      Seq((10L, "a b", "s2"), (11L, "a b c", "s2"))).toDF("doc_id", "text", "source")
    assert(graft.operators.TextAnalysis.DropBelow == 0.2)
    val got = graft.operators.TextAnalysis.lengthPercentileFilter(d)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L, 4L, 5L, 11L), s"got $got")
  }

  test("boilerplate n-grams: cross-doc df counts, each doc votes once") {
    val d = Seq(
      (1L, "terms of service apply here now", "s"),
      (2L, "please read terms of service apply today", "s"),
      // doc 3 repeats the gram internally -> still ONE vote
      (3L, "terms of service apply terms of service apply", "s"),
      (4L, "completely unrelated words in this doc", "s"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.TextAnalysis.boilerplateNgrams(d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("terms of service apply") == 3L)
    assert(!got.keys.exists(_.startsWith("completely")))
  }

  test("punct and alpha counts") {
    val r = one("a,b;c!?").select(
      TextFunctions.punctCount(col("text")).as("p"),
      TextFunctions.alphaCount(col("text")).as("a")).head
    assert(r.getAs[Int]("p") == 4)
    assert(r.getAs[Int]("a") == 3)
  }

  test("quality score: stopword-rich English text scores higher than noise") {
    val good = "the cat is in the hat and it is a good day for the dog"
    val noise = "@@## $$%% ^^&& ** (( )) ;;;; ~~~ ||| 123 456"
    val df = Seq(good, noise).toDF("text")
    val scores = df.select(col("text"), TextFunctions.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores(good) > scores(noise))
    assert(scores(good) > 0.4 && scores(noise) < 0.2)
  }

  test("language ID picks the stopword-matching language") {
    val samples = Map(
      "the cat is in the hat and it is here" -> "en",
      "der hund ist nicht in das haus und die katze" -> "de",
      "le chat est dans les maisons pour une souris" -> "fr",
      "el gato es un animal y los perros no se van" -> "es",
      "zzz qqq www" -> "und")
    val df = samples.keys.toSeq.toDF("text")
    val got = df.select(col("text"), TextFunctions.langPredict(col("text")).as("l"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    samples.foreach { case (text, lang) => assert(got(text) == lang, s"for: $text") }
  }

  test("polyhash64 matches a reference implementation") {
    GraftFunctions.register(spark)
    val s = "abc"
    val expected = s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 1315423911L + (b & 0xff))
    val got = Seq(Tuple1(s)).toDF("t")
      .select(GraftFunctions.polyhash64(col("t"))).head.getLong(0)
    assert(got == expected)
  }

  test("simhash64: stable under whole-stage codegen and interpreted eval") {
    GraftFunctions.register(spark)
    val df = Seq(Tuple1(Seq("a", "b", "c"))).toDF("toks")
    val a = df.select(GraftFunctions.simhash64(col("toks"))).head.getLong(0)
    // force interpreted path via filter-pushdown-free eval
    val b = spark.sql("SELECT simhash64(array('a','b','c'))").head.getLong(0)
    assert(a == b)
  }

  test("custom expressions: codegen and FORCED-interpreted eval agree") {
    // Every custom Expression delegates eval AND doGenCode to the same
    // HashImpl static method (parity by construction); this pins that
    // invariant against a future hand-inlined doGenCode by running the
    // whole battery once per codegen factory mode. NO_CODEGEN forces
    // InterpretedUnsafeProjection, i.e. the nullSafeEval path.
    GraftFunctions.register(spark)
    def battery(): Seq[org.apache.spark.sql.Row] = {
      val df = Seq(
        ("the quick brown fox jumps over the lazy dog", Seq("a", "bb", "ccc"),
          Seq(0.5f, -1.0f, 0.25f, 0.0f), 7L, 12L),
        ("", Seq.empty[String], Seq(0.0f, 0.0f, 0.0f, 0.0f), 0L, 0L))
        .toDF("text", "toks", "vec", "x", "y")
      df.select(
        GraftFunctions.polyhash64(col("text")).as("ph"),
        GraftFunctions.simhash64(col("toks")).as("sh"),
        GraftFunctions.hash64Seeded(col("x"), col("text")).as("hs"),
        GraftFunctions.zorder64(col("x"), col("y")).as("z"),
        GraftFunctions.clz64(col("x")).as("clz"),
        GraftFunctions.cdcChunks(col("text"), 4, 3).as("cdc"),
        GraftFunctions.minhashSig(col("toks"), 8).as("sig"),
        GraftFunctions.wordShingles(col("toks"), 2).as("wsh"),
        GraftFunctions.cosineSim(col("vec"), col("vec")).as("cos"),
        GraftFunctions.quantizeI8Stats(col("vec")).as("q"))
        .selectExpr("ph", "sh", "hs", "z", "clz", "cdc", "sig", "wsh",
          "cos", "q.scale", "q.q_sum", "q.q_min", "q.q_max",
          "band_hash(sig, 2, 4) as bh",
          "first_shared_index(sig, sig) as fsi",
          "first_shared_band(sig, sig, 2, 4) as fsb",
          "first_shared_probe(bh, bh, 2) as fsp",
          "minhash_est(sig, sig) as me",
          "jaccard_sorted(array('a','b'), array('b','c')) as js")
        .collect().toSeq
    }
    val codegen = battery()
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(battery())
    assert(codegen.map(_.toString) == interpreted.map(_.toString))
    // CODEGEN_ONLY direction (r13 verdict): the FALLBACK default hides
    // a codegen FAILURE by silently running interpreted; here any
    // Janino error in the battery throws (projection layer via
    // factoryMode, whole-stage via fallback=false) instead of passing.
    val codegenOnly = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false")(battery())
    assert(codegen.map(_.toString) == codegenOnly.map(_.toString))
  }

  test("PII redaction: emails, phones, IPs counted and replaced") {
    val df = Seq(
      (1L, "write to alice.smith+test@example.co.uk for details"),
      (2L, "call +1 555 123 4567 or 8 800 2000 600 now"),
      (3L, "server at 192.168.0.12 timed out"),
      (4L, "no sensitive content here at all")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextFunctions.piiCount(col("text"), TextFunctions.emailRe).as("e"),
        TextFunctions.piiCount(col("text"), TextFunctions.phoneRe).as("p"),
        TextFunctions.piiCount(col("text"), TextFunctions.ipRe).as("i"),
        TextFunctions.redactPii(col("text")).as("red"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(out(1L)._1 == 1 && out(1L)._4 == "write to <EMAIL> for details")
    assert(out(2L)._2 == 2 && out(2L)._4 == "call <PHONE> or <PHONE> now")
    assert(out(3L)._3 == 1 && out(3L)._4 == "server at <IP> timed out")
    assert(out(4L) == ((0, 0, 0, "no sensitive content here at all")))
  }

  test("segment dedup rebuilds docs from first-occurrence segments") {
    // doc1: 16 tokens -> 2 segments; doc2 shares doc1's first segment
    // and keeps only its 4-token tail; doc3 is an exact duplicate of
    // doc1 and must vanish entirely
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h x y z w"),
      (3L, "a b c d e f g h i j k l m n o p"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.segmentDedupRebuild(docs)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val Array(d1, d2) = out
    assert(d1.getLong(1) == 2 && d1.getLong(2) == 2) // doc1 intact
    assert(d2.getLong(1) == 2 && d2.getLong(2) == 1) // doc2 loses seg 0
    assert(d2.getLong(3) == "x y z w".length) // rebuilt = tail only
    // determinism under repartition (collect_list order is restored)
    val again = graft.operators.TextAnalysis
      .segmentDedupRebuild(docs.repartition(7)).orderBy("doc_id").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("repeated-substring spans: chain extension, boundaries, within-doc repeats") {
    import graft.operators.TextAnalysis
    // docs 1 and 2 share a 24-token prefix (positions 0..23) and then
    // diverge; doc 3 is unrelated; doc 4 repeats its own 20-token
    // phrase twice back to back (within-doc duplication must count);
    // docs 5 and 6 share only a 12-token prefix, below the 16-token floor
    val shared = (1 to 24).map(i => s"w$i").mkString(" ")
    val phrase = (1 to 20).map(i => s"p$i").mkString(" ")
    val short = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " tail1 only here alpha beta gamma delta"),
      (2L, shared + " tail2 other words epsilon zeta eta theta"),
      (3L, (1 to 40).map(i => s"u$i").mkString(" ")),
      (4L, phrase + " " + phrase),
      (5L, short + " " + (1 to 10).map(i => s"x$i").mkString(" ")),
      (6L, short + " " + (1 to 10).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repeatedSubstringSpans(docs)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // shared prefix: duplicated shingle starts are 0..16 (17 shingles),
    // span covers tokens 0..23 = 24 tokens, in BOTH docs
    assert(out.count(_._1 == 1L) == 1 && out.count(_._1 == 2L) == 1)
    assert(out.filter(t => t._1 == 1L || t._1 == 2L)
      .forall(t => t._2 == 0L && t._3 == 23L && t._4 == 24L),
      s"shared-prefix span must be tokens 0..23, got ${out.toSeq}")
    assert(!out.exists(_._1 == 3L), "unrelated doc has no spans")
    // doc 4: "p1..p20 p1..p20" — shingle starts 0..12 match their +20
    // twins, but the seam shingles (13..19, spanning the copy boundary)
    // occur once, so the runs chain into TWO 20-token spans: tokens
    // 0..19 (the first copy) and 20..39 (the second)
    val d4 = out.filter(_._1 == 4L)
    assert(d4.toSeq == Seq((4L, 0L, 19L, 20L), (4L, 20L, 39L, 20L)),
      s"within-doc repeat must yield both copies' spans, got ${d4.toSeq}")
    // sub-threshold spans are dropped: the 12-token shared prefix of
    // docs 5 and 6 is a run of duplicated shingles, yet yields no span
    assert(!out.exists(t => t._1 == 5L || t._1 == 6L), s"short span kept: ${out.toSeq}")

    // removal rebuild: the shared prefix is cut from BOTH docs (every
    // copy goes — ExactSubstr policy), tails survive verbatim, the
    // unrelated doc passes through untouched, doc 4 empties entirely
    val rb = TextAnalysis.removeRepeatedSubstrings(docs)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(rb(1L) == ((31L, 24L, "tail1 only here alpha beta gamma delta")))
    assert(rb(2L) == ((31L, 24L, "tail2 other words epsilon zeta eta theta")))
    assert(rb(3L)._2 == 0L && rb(3L)._3 == (1 to 40).map(i => s"u$i").mkString(" "))
    assert(rb(4L) == ((40L, 40L, "")), "fully duplicated doc empties")
  }

  test("unigram LM: common-token docs score lower nll than rare-token docs") {
    val docs = Seq(
      (1L, "the the the and and of"), // all high-frequency tokens
      (2L, "the and of to in a"),
      (3L, "zyzzyva qwertyuiop xylophone")) // singleton tokens
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.unigramLogProb(docs)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(6L, 6L, 3L))
    val nll = out.map(_.getDouble(2))
    assert(nll(0) < nll(1), "more repetition of common tokens => lower nll")
    assert(nll(1) < nll(2), "rare tokens must score higher nll")
    // hand-check doc 3: every token is a singleton, nll = ln(N/1) = ln(15)
    assert(math.abs(nll(2) - math.log(15.0)) < 1e-12)
  }

  test("BPE merges: hand-traced rounds on the classic low/lower corpus") {
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.bpeMerges(docs)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    // round ties resolve (cnt desc, l asc, r asc); greedy merges:
    // lo(5) -> low(5) -> er(2) -> low+er(2) -> es(1, from newest)
    assert(out.toSeq == Seq(("l", "o", 5L), ("lo", "w", 5L),
      ("e", "r", 2L), ("low", "er", 2L), ("e", "s", 1L)))

    // encode side: rule 4 (low+er) collapses lower to ONE token —
    // low -> [low], lower -> [lower], newest -> [n, e, w, es, t]
    val docsSrc = Seq((1L, "a", "low low low"), (2L, "a", "lower lower"),
      (3L, "b", "newest")).toDF("doc_id", "source", "text")
    val stats = graft.operators.TextAnalysis.bpeEncode(docsSrc)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats.toSeq == Seq(("a", 5L, 19L, 5L), ("b", 1L, 6L, 5L)))
  }

  test("KL drift: nonnegative, zero-ish for matching sources, high for drifted") {
    val docs = Seq(
      (1L, "a", "x x x y"), (2L, "a", "x x x y"),
      (3L, "b", "x x x y"), (4L, "b", "x x x y"), // b matches a exactly
      (5L, "c", "z z z z z z z z")) // c is disjoint from the x/y mass
      .toDF("doc_id", "source", "text")
    val kl = graft.operators.TextAnalysis.sourceDriftKl(docs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(kl.values.forall(_ >= -1e-12), s"KL must be nonnegative: $kl")
    assert(math.abs(kl("a") - kl("b")) < 1e-12,
      "identically distributed sources must score identically")
    assert(kl("c") > kl("a") + 0.1,
      s"drifted source must stand out: $kl")
  }

  test("PMI co-occurrence: hand-computed value, doc-level counting") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "c"),
      (4L, "a a a")) // repeated tokens count once per doc
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.pmiCooccurrence(docs)
      .collect()
    // only (a,b) ever co-occurs: c_xy=2, df(a)=3 (doc 4 counts once),
    // df(b)=2, D=4 -> pmi = ln(4*2/(3*2)) = ln(4/3)
    assert(out.length == 1)
    val r = out.head
    assert((r.getString(0), r.getString(1), r.getLong(2)) == ("a", "b", 2L))
    assert(math.abs(r.getDouble(3) - math.log(4.0 / 3.0)) < 1e-12)
  }

  test("quality classifier: score matches a driver re-derivation, zero shuffle") {
    import graft.functions.HashImpl
    import org.apache.spark.unsafe.types.UTF8String
    val docs = graft.sources.Tables.documents(spark, sf001)
    val out = graft.operators.TextAnalysis.qualityClassifier(spark, docs)
    // the scan-speed contract: no Exchange anywhere before the sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.indexOf("Exchange") == plan.lastIndexOf("Exchange"),
      s"classifier should add no shuffle beyond the output sort:\n$plan")
    def weight(tok: String): Long = {
      val b = Math.floorMod(
        HashImpl.fnv1a64Seeded(1L, UTF8String.fromString(tok)), 4096L)
      Math.floorMod(
        HashImpl.fnv1a64Seeded(2L, UTF8String.fromString("w" + b)), 256L) - 128L
    }
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = out.collect()
    assert(got.length == texts.size)
    got.take(50).foreach { r =>
      val toks = texts(r.getLong(0)).toLowerCase.split(" ").filter(_.nonEmpty)
      assert(r.getAs[Long]("n_tokens") == toks.length, s"token count: $r")
      assert(r.getAs[Long]("score") == toks.map(weight).sum, s"score: $r")
      assert(r.getAs[Int]("keep") == (if (r.getAs[Long]("score") > 0) 1 else 0))
    }
  }

  test("BM25: scores match a driver re-derivation; top-k = sort of full set") {
    val docs = graft.sources.Tables.documents(spark, sf001)
    val out = graft.operators.TextAnalysis.bm25(docs, SparkEntry.bm25Queries)
      .collect()
    val (k1, b) = (1.2, 0.75)
    val toks = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq).toMap
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.length.toLong).sum.toDouble / n
    val dfs = SparkEntry.bm25Queries.flatMap(_._2).distinct
      .map(t => t -> toks.values.count(_.contains(t)).toDouble).toMap
    def score(qid: Long, d: Long): (Long, Double) = {
      val terms = SparkEntry.bm25Queries.find(_._1 == qid).get._2
      val hits = terms.map(t => t -> toks(d).count(_ == t).toDouble)
        .filter(_._2 > 0)
      (hits.size.toLong, hits.map { case (t, tf) =>
        math.log((n - dfs(t) + 0.5) / (dfs(t) + 0.5) + 1.0) *
          tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * toks(d).length / avgdl))
      }.sum)
    }
    assert(out.nonEmpty)
    out.take(100).foreach { r =>
      val (nt, s) = score(r.getLong(0), r.getLong(1))
      assert(r.getAs[Long]("n_terms") == nt, s"n_terms: $r")
      assert(math.abs(r.getAs[Double]("score") - s) < 1e-9, s"score: $r")
    }
    // only matching docs appear
    assert(out.forall(_.getAs[Long]("n_terms") > 0))
    // the top-10 cut for query 3 is exactly the sorted head of the set
    val full = out.filter(_.getLong(0) == 3L)
      .sortBy(r => (-r.getAs[Double]("score"), r.getLong(1))).take(10)
    val topK = graft.operators.TextAnalysis.bm25(docs, SparkEntry.bm25Queries)
      .filter(col("query_id") === 3L)
      .orderBy(col("score").desc, col("doc_id")).limit(10).collect()
    assert(topK.map(_.getLong(1)).toSeq == full.map(_.getLong(1)).toSeq)
  }

  test("passage chunks: offsets, overlap, and full token coverage") {
    val docs = graft.sources.Tables.documents(spark, sf001)
    val (window, stride) =
      (graft.operators.TextAnalysis.PassageWindow, graft.operators.TextAnalysis.PassageStride)
    val out = graft.operators.TextAnalysis.passageChunks(docs)
      .collect().groupBy(_.getLong(0))
    val toks = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq).toMap
    assert(out.keySet == toks.keySet, "every non-empty doc chunked")
    out.foreach { case (id, chunks) =>
      val sorted = chunks.sortBy(_.getAs[Long]("chunk_id"))
      val dl = toks(id).length.toLong
      assert(sorted.map(_.getAs[Long]("chunk_id")).toSeq ==
        (0L until ((dl - 1) / stride + 1)).toSeq)
      sorted.foreach { c =>
        val start = c.getAs[Long]("start_tok")
        assert(start == c.getAs[Long]("chunk_id") * stride)
        assert(c.getAs[Long]("n_tok") == math.min(window.toLong, dl - start))
        assert(c.getAs[String]("chunk_text") ==
          toks(id).slice(start.toInt,
            start.toInt + c.getAs[Long]("n_tok").toInt).mkString(" "))
      }
      // stride-prefixes concatenated + last chunk == the whole doc
      val rebuilt = sorted.init.map(_.getAs[String]("chunk_text")
        .split(" ").take(stride).mkString(" ")) :+
        sorted.last.getAs[String]("chunk_text")
      assert(rebuilt.mkString(" ") == toks(id).mkString(" "),
        s"doc $id not covered")
    }
  }

  test("bigram LM: penalizes scrambled transitions, matches hand NLL") {
    val d = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the cat sat on the bed"),
      (4L, "mat the on sat cat the")) // doc 1's unigrams, scrambled
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.bigramLogProb(d).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("nll"),
          r.getAs[Double]("nll_tok"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out.forall(_._2._1 == 5L))
    // same unigram profile, but every transition in doc 4 is corpus-rare
    assert(out(4L)._3 > out(1L)._3,
      s"scrambled doc must score worse: ${out(4L)} vs ${out(1L)}")
    // hand NLL for doc 1 under add-half smoothing, V = 7 distinct words
    val toks = d.collect().map(_.getString(1).split(" ").toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val big = toks.flatMap(t => t.sliding(2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size).toMap
    val v = uni.size
    def nll(ws: Seq[String]) = ws.sliding(2).map { p =>
      -math.log((big(p.mkString(" ")) + 0.5) /
        (uni(p.head) + 0.5 * v))
    }.sum
    assert(math.abs(out(1L)._2 - nll(toks.head)) < 1e-12, s"${out(1L)}")
  }

  test("bigram LM: repeated transitions weight by multiplicity; fixture is fp-collision-free") {
    // "go go go go" has ONE distinct bigram "go go" with m=3 — the
    // pre-aggregated plan must still count 3 bigrams and 3 ln-terms
    val d = Seq((1L, "go go go go"), (2L, "go stop")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.bigramLogProb(d).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("nll"))).toMap
    assert(out(1L)._1 == 3L)
    // hand NLL: c(go go)=3, c(go)=5 (4+1 from doc2), V=2 →
    // each term -ln(3.5/6), three of them
    assert(math.abs(out(1L)._2 - 3 * -math.log(3.5 / 6.0)) < 1e-12)

    // the 64-bit fingerprint join keys are collision-free on the
    // sf0.001 fixture (so the hash-join answer == the string-join answer)
    val docs = graft.sources.Tables.documents(spark, sf001)
    val toks2 = docs.select(TextFunctions.wsTokens(col("text")).as("t"))
    val words = toks2.select(explode(col("t")).as("w")).distinct()
    val nWords = words.count()
    val nHashes = words.select(xxhash64(col("w"))).distinct().count()
    assert(nWords == nHashes, "token fingerprints must be collision-free")
  }

  test("posting lists: df over the full corpus, postings capped and ascending") {
    // "a" is in all 20 docs; its postings keep the 16 smallest ids
    assert(graft.operators.TextAnalysis.PostingCap == 16)
    val d = (20L to 1L by -1L).map {
      case 3L => (3L, "b a a b") // per-doc distinct: {a, b}
      case 1L => (1L, "a c")
      case 4L => (4L, "a d")
      case i => (i, "a")
    }.toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.postingLists(d).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("df"), r.getAs[String]("postings"),
          r.getAs[Long]("n_postings"))).toMap
    // df counts EVERY doc containing the term; postings keep only the
    // cap smallest doc_ids, comma-joined ascending
    assert(out("a") == ((20L, (1 to 16).mkString(","), 16L)), s"got ${out("a")}")
    assert(out("b") == ((1L, "3", 1L)))
    assert(out("c") == ((1L, "1", 1L)))
    assert(out("d") == ((1L, "4", 1L)))
  }

  test("temperature mixture: alpha<1 upsamples the tail, probabilities normalize") {
    // source A: 9x tokens of source B -> p_raw 0.9/0.1
    val d = Seq(
      (1L, ("x " * 90).trim, "A"),
      (2L, ("x " * 10).trim, "B"))
      .toDF("doc_id", "text", "source")
    val out = graft.operators.TextAnalysis.temperatureMixture(d)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("p_raw"), r.getAs[Double]("p_temp"),
          r.getAs[Double]("upsample"))).toMap
    def pa(p: Double) = math.pow(p, graft.operators.TextAnalysis.TempAlpha)
    val z = pa(0.9) + pa(0.1)
    assert(math.abs(out("A")._1 - 0.9) < 1e-15)
    assert(math.abs(out("A")._2 - pa(0.9) / z) < 1e-12)
    assert(math.abs(out("B")._2 - pa(0.1) / z) < 1e-12)
    assert(out("A")._2 + out("B")._2 > 1.0 - 1e-12 &&
      out("A")._2 + out("B")._2 < 1.0 + 1e-12, "p_temp sums to 1")
    assert(out("B")._3 > 1.0 && out("A")._3 < 1.0,
      "temperature upsamples the small source and downsamples the large")
  }

  test("contrastive negatives: in-range, anchor-free, reshuffle-stable") {
    val q = SparkEntry.queries("q97_contrastive_pairs")
    val out = q(spark, sf001).collect()
    // 500 anchors x 4 slots minus self-collisions (hash hits its own id)
    assert(out.length > 1900 && out.length <= 2000, s"n=${out.length}")
    out.foreach { r =>
      val (a, neg) = (r.getAs[Long]("doc_id"), r.getAs[Long]("neg_id"))
      assert(neg >= 0 && neg < 500 && neg != a, s"bad negative: $r")
    }
    // deterministic: a second run returns the identical pair set
    val again = q(spark, sf001).collect()
    assert(out.map(_.toString).toSet == again.map(_.toString).toSet)
  }

  test("shingle novelty: first doc owns every shingle, duplicate scores 0") {
    // doc 1: 4 tokens -> 2 distinct 3-gram shingles, all first-seen.
    // doc 2: identical text -> same shingles, novelty 0.
    // doc 3: shares suffix "c d e" with doc 1's "b c d"? no — tokens
    //        c d e f: shingles "c d e","d e f" — none seen -> 1.0.
    // doc 4: one token -> no shingles -> absent from the output.
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "c d e f"), (4L, "x"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.shingleNovelty(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(out(3L) == ((2L, 2L, 1.0)))
  }

  test("retrieval eval: metric invariants + candidate counts + determinism") {
    val docs = Seq(
      (1L, "join hash join"), (2L, "hash scan"), (3L, "nothing here"),
      (4L, "join join join hash hash"), (5L, "hash"), (6L, "join me"))
      .toDF("doc_id", "text")
    val qs = Seq(1L -> Seq("join", "hash"), 2L -> Seq("absent"))
    val k = graft.operators.TextAnalysis.RetrievalK
    val out = graft.operators.TextAnalysis.retrievalEval(docs, qs)
      .collect()
    // query 2 matches nothing -> no row (no candidates at all)
    assert(out.map(_.getAs[Long]("query_id")).toSeq == Seq(1L))
    val r = out.head
    assert(r.getAs[Long]("n_cand") == 5L) // docs 1,2,4,5,6
    val (nRel, relK) = (r.getAs[Long]("n_rel"), r.getAs[Long]("rel_at_k"))
    assert(k >= 5 && relK == nRel) // 5 candidates: everything is in the top k
    val (mrr, ndcg) = (r.getAs[Double]("mrr"), r.getAs[Double]("ndcg"))
    assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-12)
    assert((mrr == 0.0) == (relK == 0L)) // mrr>0 iff a relevant hit
    assert(r.getAs[Double]("p_at_k") == relK.toDouble / k)
    assert(nRel == 0L || r.getAs[Double]("recall_at_k") == 1.0)
    val again = graft.operators.TextAnalysis.retrievalEval(docs, qs)
      .collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("vocab coverage: top-V boundary and per-source OOV rates") {
    // counts: t000..t499 = 3 each, u = 3, c = 2, d = 1 -> the top-500
    // vocab (count desc, token asc) is t000..t499, and u, tied at the
    // boundary count, falls out on the token order; src1 oov = {u, c}:
    // 2/502; src2 oov = {u, u, c, d}: 4/1004.
    assert(graft.operators.TextAnalysis.VocabSize == 500)
    val vocab = (0 until 500).map(i => f"t$i%03d")
    val docs = Seq(
      (1L, "src1", (vocab ++ Seq("u", "c")).mkString(" ")),
      (2L, "src2", (vocab ++ vocab ++ Seq("u", "u", "c", "d")).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.TextAnalysis.vocabCoverage(docs)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_oov"), r.getAs[Double]("oov_rate"))).toMap
    assert(out("src1") == ((1L, 502L, 2L, 2.0 / 502.0)))
    assert(out("src2") == ((1L, 1004L, 4L, 4.0 / 1004.0)))
  }

  test("char entropy: degenerate, uniform, and empty docs") {
    val docs = Seq(
      (1L, "aaaa"), (2L, "ab"), (3L, "aabb"), (4L, ""))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.charEntropy(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_chars"), r.getAs[Long]("n_unique"),
          r.getAs[Double]("entropy"), r.getAs[Double]("evenness"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L)) // empty doc drops
    assert(out(1L) == ((4L, 1L, 0.0, 0.0))) // one symbol: zero entropy
    val ln2 = math.log(2.0)
    assert(out(2L)._1 == 2L && math.abs(out(2L)._3 - ln2) < 1e-12 &&
      math.abs(out(2L)._4 - 1.0) < 1e-12)
    // aabb: uniform over 2 symbols -> ln 2, evenness 1
    assert(math.abs(out(3L)._3 - ln2) < 1e-12 &&
      math.abs(out(3L)._4 - 1.0) < 1e-12)
  }

  test("word dropout: md5-positional selection matches a local replica") {
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.wordDropout(docs).collect().head
    def keep(pos: Int, tok: String): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"7:$pos:$tok".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      java.lang.Long.parseLong(hex, 16) % 10L >= 1L
    }
    val toks = text.split(" ")
    val expected = toks.zipWithIndex.collect {
      case (t, i) if keep(i + 1, t) => t }
    assert(r.getAs[String]("aug_text") == expected.mkString(" "),
      s"expected ${expected.toSeq}")
    assert(r.getAs[Long]("n_orig") == toks.length.toLong)
    assert(r.getAs[Long]("n_kept") == expected.length.toLong)
    assert(r.getAs[Double]("drop_rate") ==
      (toks.length - expected.length).toDouble / toks.length)
  }

  test("length calibration: percent_rank identity on a hand fixture") {
    val docs = Seq(
      (1L, "A", "a"), (2L, "A", "a b"), (3L, "A", "c d"),
      (4L, "A", "e f g"), (5L, "B", "h i j k l"))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.TextAnalysis.lengthCalibration(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("pct_source"), r.getAs[Double]("pct_global"))).toMap
    // global: n=5, less/4 -> len1: 0, len2: 1/4, len3: 3/4, len5: 1
    // source A: n=4, less/3 -> len1: 0, len2: 1/3, len3: 1
    // source B: single doc -> pct_source 0 by convention
    assert(out(1L) == ((0.0, 0.0)))
    assert(out(2L) == ((1.0 / 3.0, 0.25)) && out(3L) == ((1.0 / 3.0, 0.25)))
    assert(out(4L) == ((1.0, 0.75)))
    assert(out(5L) == ((0.0, 1.0)))
  }

  test("q144 PII scrub: injected doc counts each type once; redaction rewrites; clean docs untouched") {
    import graft.operators.TextAnalysis
    // doc_id 0 gets the deterministic injection (0 % 97 == 0), 5 not
    val docs = Seq((0L, "hello world", "web", 11L),
      (5L, "clean text here", "web", 15L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .withColumnRenamed("lang", "source")
    val out = TextAnalysis.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val injected = out(0L)
    assert((1 to 4).forall(i => injected.getLong(i) == 1L),
      s"each PII type injected exactly once: $injected")
    val clean = out(5L)
    assert((1 to 4).forall(i => clean.getLong(i) == 0L), s"clean: $clean")
    // redacted md5 equals the md5 of the hand-redacted string
    val expect = "hello world contact <EMAIL> call <PHONE> from <IP> ssn <SSN>"
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(expect.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(injected.getString(5) == hex,
      s"redaction mismatch: ${injected.getString(5)} vs $hex")
    // clean doc's redaction is the identity
    val cleanHex = java.security.MessageDigest.getInstance("MD5")
      .digest("clean text here".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(clean.getString(5) == cleanHex)
  }

  test("q145 blocklist: hit counts and integer keep rule") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "fast table scan", "a"),             // 0/3 hits -> kept
      (2L, "slow slow query", "a"),             // 2/3 -> 66% -> dropped
      (3L, ("ok " * 99) + "slow", "a"))         // 1/100 = 1% < 3% -> kept
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.blocklistFilter(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((0L, true)))
    assert(out(2L) == ((2L, false)))
    assert(out(3L) == ((1L, true)), s"1% must stay under 3%: $out")
  }

  test("q143 length-matched resample: identical distributions give weight 1; skewed source is down-weighted") {
    import graft.operators.TextAnalysis
    // source A: 3 docs in bucket 0, 1 in bucket 1; source B mirrors
    // the corpus exactly after pooling — construct A=B so every
    // (source,bucket) share equals the corpus share → all weights 1
    val uniform = Seq(
      (1L, "t1", "A", 50L), (2L, "t2", "A", 150L),
      (3L, "t3", "B", 50L), (4L, "t4", "B", 150L))
      .toDF("doc_id", "text", "source", "n_chars")
    val w1 = TextAnalysis.lengthMatchedResample(uniform).collect()
    assert(w1.forall(_.getDouble(3) == 1.0), s"uniform → weight 1: ${w1.toSeq}")
    assert(w1.forall(_.getBoolean(4)), "weight 1 keeps everything")
    // source A all-short, B all-long: corpus share of bucket 0 is 1/2,
    // A's own share is 1 → weight 1/2 for A docs (and B symmetric)
    val skew = Seq(
      (1L, "t1", "A", 50L), (2L, "t2", "A", 60L),
      (3L, "t3", "B", 150L), (4L, "t4", "B", 160L))
      .toDF("doc_id", "text", "source", "n_chars")
    val w2 = TextAnalysis.lengthMatchedResample(skew).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(w2.values.forall(_ == 0.5), s"skewed halves: $w2")
  }

  test("q153 URL canonicalization: variants collapse, :8080 survives, min-id wins") {
    import graft.operators.TextAnalysis
    val docs = Seq(0L, 120L, 7L, 3L).map(id => (id, "t", "en", "A"))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.urlCanonicalDedup(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 0: upper host + :80 + utm params + fragment, all stripped
    assert(out(0L).getString(2) ==
      "https://www.site0.example.com/articles/0?id=0", s"${out(0L)}")
    // doc 120 is the same logical page (g=0): collapses onto doc 0
    assert(out(120L).getString(2) == out(0L).getString(2))
    assert(out(0L).getLong(3) == 2L && out(0L).getBoolean(4))
    assert(!out(120L).getBoolean(4), "min-id survivor only")
    // doc 7: non-default :8080 must NOT be stripped
    assert(out(7L).getString(2) ==
      "https://www.site7.example.com:8080/articles/7?id=2", s"${out(7L)}")
    // doc 3: canonicalization = authority lowercasing only
    assert(out(3L).getString(1).startsWith("https://WWW.SITE3"))
    assert(out(3L).getString(2) ==
      "https://www.site3.example.com/articles/3?id=3")
  }

  test("q152 DSIR: target-exclusive vocabulary outranks raw-only; per-source quota keeps the top") {
    import graft.operators.TextAnalysis
    // en docs carry alpha/beta; the de docs carry gamma. beta is
    // target-only AND rare in raw => highest ratio; gamma is raw-only
    // => lowest. Expected norm order: d2 > d1 > d4 > d3; quota
    // |A|/4 = 1 keeps exactly the top doc.
    val docs = Seq(
      (1L, "alpha alpha alpha", "en", "A"),
      (2L, "alpha alpha beta", "en", "A"),
      (3L, "gamma gamma gamma", "de", "A"),
      (4L, "alpha gamma gamma", "de", "A"))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.dsirSelect(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.values.forall(_.getLong(2) == 3L), "n_tokens")
    val norm = out.map { case (id, r) => id -> r.getLong(4) }
    assert(norm(2L) > norm(1L) && norm(1L) > norm(4L) && norm(4L) > norm(3L),
      s"importance order: $norm")
    assert(out(2L).getBoolean(5) &&
      Seq(1L, 3L, 4L).forall(id => !out(id).getBoolean(5)),
      s"quota keeps only the top: $out")
  }

  test("q157 shard manifest: totals conserve, balance per-mille, order-independent fingerprint") {
    import graft.operators.TextAnalysis
    val docs = (0L until 64L).map(i => (i, s"doc body $i", "en", "A", 10L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.shardManifest(docs).collect()
    assert(out.map(_.getAs[Long]("shard_id")).forall(s => s >= 0 && s < 16))
    assert(out.map(_.getAs[Long]("n_docs")).sum == 64L)
    assert(out.map(_.getAs[Long]("sum_bytes")).sum ==
      (0L until 64L).map(10L + _).sum)
    val pm = out.map(_.getAs[Long]("permille")).sum
    assert(pm <= 1000L && pm >= 1000L - 16L, s"per-mille floor sum: $pm")
    // fingerprints are commutative sums: a reshuffled input matches
    val again = TextAnalysis.shardManifest(docs.repartition(7)).collect()
    def fps(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getAs[Long]("shard_id") -> r.getAs[String]("fingerprint")).toMap
    assert(fps(out) == fps(again))
  }

  test("q159 token-budget fill: cumsum follows priority order, prefix rule cuts at the boundary") {
    import graft.operators.TextAnalysis
    // 300 tokens per doc against the 800-token budget
    assert(TextAnalysis.TokenBudget >= 600L && TextAnalysis.TokenBudget < 900L)
    val docs = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"))
      .map { case (id, src) =>
        val t = Seq.fill(300)(s"w$id").mkString(" ")
        (id, t, "en", src, t.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.tokenBudgetFill(docs).collect()
    val a = out.filter(_.getString(1) == "A")
      .sortBy(r => (r.getLong(3), r.getLong(0)))
    // cumulative sums accumulate in (priority, doc_id) order
    assert(a.map(_.getLong(4)).toSeq == Seq(300L, 600L, 900L), s"${a.toSeq}")
    // prefix rule: 300 and 600 fit the budget, 900 does not
    assert(a.map(_.getBoolean(5)).toSeq == Seq(true, true, false))
    // sources fill independently
    val b = out.filter(_.getString(1) == "B").head
    assert(b.getLong(4) == 300L && b.getBoolean(5))
  }
}
