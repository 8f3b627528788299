package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.{GraftFunctions, HashFunctions, TextFunctions}
import graft.operators.PriceAlerts
import graft.sources.Tables

/** Property-based invariants (scalacheck generators): algebraic laws
  * the operators must satisfy on arbitrary inputs, not just the golden
  * fixtures.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Draw n samples from a generator (scalacheck without the
    * scalatest bridge, which isn't in the offline cache).
    */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private val purchaseGen = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      id <- Gen.choose(1L, 1000L)
      qty <- Gen.choose(1L, 50L)
      pid <- Gen.choose(1L, 5L)
      minuteOffset <- Gen.choose(0L, 10L)
      secs <- Gen.choose(0L, 59L)
    } yield (id, qty, pid, new Timestamp(1704067200000L + minuteOffset * 60000L + secs * 1000L)))
  } yield rows

  private val productsDf = (1L to 5L)
    .map(i => (i, s"p$i", "d", i * 10.0)).toDF("id", "name", "description", "price")

  test("windowed revenue totals == ungrouped total (sum partitioning law)") {
    for (rows <- samples(purchaseGen, 5)) {
      val p = rows.toDF("id", "quantity", "productid", "ts")
      val joined = PriceAlerts.purchasesWithProducts(p, productsDf)
      val windowed = PriceAlerts.windowedRevenue(joined)
        .agg(sum("total_sum_per_minute")).head.getDouble(0)
      val direct = joined
        .agg(sum(col("purchase_quantity") * col("product_price"))).head.getDouble(0)
      assert(math.abs(windowed - direct) < 1e-6)
    }
  }

  test("alerts are exactly the windows above threshold (filter law)") {
    for ((rows, thr) <- samples(purchaseGen, 5).zip(
        samples(Gen.choose(0.0, 5000.0), 5))) {
      val p = rows.toDF("id", "quantity", "productid", "ts")
      val rev = PriceAlerts.windowedRevenue(
        PriceAlerts.purchasesWithProducts(p, productsDf))
      val nAlerts = PriceAlerts.alerts(rev, thr).count()
      val expected = rev.filter(col("total_sum_per_minute") > thr).count()
      assert(nAlerts == expected)
    }
  }

  private val tokenArrayGen = Gen.nonEmptyListOf(
    Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")).map(_.toArray)

  test("jaccard is symmetric, bounded, and 1 on self (for nonempty sets)") {
    GraftFunctions.register(spark)
    for ((a, b) <- samples(tokenArrayGen, 10).zip(samples(tokenArrayGen, 10))) {
      val df = Seq((a, b)).toDF("a", "b")
      val row = df.select(
        HashFunctions.jaccard(col("a"), col("b")),
        HashFunctions.jaccard(col("b"), col("a")),
        HashFunctions.jaccard(col("a"), col("a"))).head
      val (ab, ba, aa) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
      assert(ab == ba, "symmetry")
      assert(ab >= 0.0 && ab <= 1.0, "bounds")
      assert(aa == 1.0, "identity")
    }
  }

  test("minhash estimate of a signature with itself is 1") {
    GraftFunctions.register(spark)
    for (a <- samples(tokenArrayGen, 10)) {
      val df = Seq(Tuple1(a)).toDF("t")
        .withColumn("sig", GraftFunctions.minhashSig(col("t"), 32))
      val est = df.select(
        GraftFunctions.minhashEst(col("sig"), col("sig"))).head.getDouble(0)
      assert(est == 1.0)
    }
  }

  test("cosine_sim is scale-invariant and bounded") {
    GraftFunctions.register(spark)
    val vecGen = Gen.listOfN(8, Gen.choose(-10.0, 10.0).map(_.toFloat)).map(_.toArray)
      .suchThat(_.exists(_ != 0f))
    for (((a, b), s) <- samples(vecGen, 10).zip(samples(vecGen, 10))
           .zip(samples(Gen.choose(0.1f, 100.0f), 10))) {
      val scaled = a.map(_ * s)
      val df = Seq((a, b, scaled)).toDF("a", "b", "as")
      val r = df.select(
        GraftFunctions.cosineSim(col("a"), col("b")).as("c1"),
        GraftFunctions.cosineSim(col("as"), col("b")).as("c2")).head
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-5, "scale invariance")
      assert(r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9, "bounds")
    }
  }

  test("first_shared_band/index: 0 on self, agrees with a scalar reimplementation") {
    GraftFunctions.register(spark)
    val d = Tables.documents(spark, sf001).limit(30)
    val sigs = d.select(col("doc_id"),
        GraftFunctions.minhashSig(
          GraftFunctions.wordShingles(TextFunctions.wsTokens(col("text")), 3), 64).as("sig"))
      .filter(org.apache.spark.sql.functions.size(col("sig")) > 0)
    // self: band 0 always matches itself
    val self = sigs.select(GraftFunctions.firstSharedBand(col("sig"), col("sig"), 16, 4))
      .collect().map(_.getInt(0))
    assert(self.forall(_ == 0))
    // cross-pair: expression equals min matching band of the band-hash arrays
    val a = sigs.as("a"); val b = sigs.as("b")
    val cmp = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(
        GraftFunctions.firstSharedBand(col("a.sig"), col("b.sig"), 16, 4).as("fsb"),
        GraftFunctions.bandHash(col("a.sig"), 16, 4).as("ba"),
        GraftFunctions.bandHash(col("b.sig"), 16, 4).as("bb"))
      .collect()
    cmp.foreach { r =>
      val ba = r.getSeq[Long](1); val bb = r.getSeq[Long](2)
      val expect = ba.zip(bb).indexWhere { case (x, y) => x == y }
      assert(r.getInt(0) == expect, s"fsb mismatch: got ${r.getInt(0)} want $expect")
    }
  }

  test("first_shared_probe agrees with a scalar reimplementation on random bucket arrays") {
    GraftFunctions.register(spark)
    val probes = 3
    // small bucket space so collisions (direct and single-bit-flip) are common
    val arrGen = Gen.listOfN(8, Gen.choose(0L, 15L))
    val pairs = samples(for { a <- arrGen; b <- arrGen } yield (a, b), 300)
    def scalar(qb: Seq[Long], cb: Seq[Long]): Int = {
      val flips = 0L +: (0 until probes).map(i => 1L << i)
      (for {
        t <- qb.indices.iterator
        p <- flips.indices.iterator
        if (qb(t) ^ flips(p)) == cb(t)
      } yield t * (probes + 1) + p).nextOption().getOrElse(-1)
    }
    val got = pairs.toDF("qb", "cb")
      .select(GraftFunctions.firstSharedProbe(col("qb"), col("cb"), probes))
      .collect().map(_.getInt(0))
    pairs.zip(got).foreach { case ((qb, cb), g) =>
      assert(g == scalar(qb, cb), s"qb=$qb cb=$cb")
    }
    // the canonical combination it names must be a REAL collision, and
    // no earlier (table-major, probe-minor) combination may collide —
    // the single-emission invariant the ANN join filter relies on
    assert(got.count(_ >= 0) > 0, "fixture must produce collisions")
  }

  test("bloom filter: zero false negatives over random key sets") {
    import graft.operators.Sketches
    val keysGen = Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    for (keys <- samples(keysGen, 10)) {
      val df = keys.toDF("k")
      val bits = Sketches.bloomBits(df, "k", mBits = 1 << 10, k = 3)
      val passed = df
        .filter(Sketches.bloomMightContain(bits, 1 << 10, 3, col("k")))
        .count()
      assert(passed == keys.length.toLong,
        s"a true key failed the probe (n=${keys.length}, passed=$passed)")
    }
  }

  test("triangle count matches brute force on random graphs") {
    val graphGen = for {
      n <- Gen.choose(4, 14)
      p <- Gen.choose(20, 60) // edge density %
      flags <- Gen.listOfN(n * (n - 1) / 2, Gen.choose(1, 100))
    } yield {
      val all = for {
        a <- 1 to n; b <- (a + 1) to n
      } yield (a.toLong, b.toLong)
      all.zip(flags).collect { case (e, f) if f <= p => e }
    }
    for (edges <- samples(graphGen, 8) if edges.nonEmpty) {
      val eset = edges.toSet
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val brute = (for {
        a <- verts; b <- verts if a < b; c <- verts if b < c
        if eset((a, b)) && eset((b, c)) && eset((a, c))
      } yield 1).size.toLong
      val got = graft.operators.GraphOps
        .triangleCount(edges.toDF("a", "b")).head()
      assert(got.getLong(2) == brute,
        s"n=${verts.size} m=${edges.size}: got ${got.getLong(2)}, brute $brute")
    }
  }

  test("repeated-substring spans match a brute-force local model on random corpora") {
    // a two-letter alphabet so that cross-doc shingle collisions and
    // spans past the floor actually occur; the local model recomputes
    // duplicated positions, islands, and the min-span filter from first
    // principles
    val (n, minSpan) = (graft.operators.TextAnalysis.RepeatN, graft.operators.TextAnalysis.RepeatMinSpan)
    val corpusGen = for {
      nDocs <- Gen.choose(3, 7)
      docs <- Gen.listOfN(nDocs,
        Gen.choose(0, 60).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("a", "b"))))
    } yield docs.zipWithIndex.map { case (toks, i) =>
      (i.toLong, toks.mkString(" "))
    }
    for (corpus <- samples(corpusGen, 6)) {
      val toks = corpus.map { case (id, t) =>
        id -> t.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      }.toMap
      val counts = scala.collection.mutable.Map[String, Int]()
      for ((_, tt) <- toks; i <- 0 to tt.length - n)
        counts.updateWith(tt.slice(i, i + n).mkString(" "))(c => Some(c.getOrElse(0) + 1))
      val expect = (for ((id, tt) <- toks.toSeq) yield {
        val dup = (0 to tt.length - n)
          .filter(i => counts(tt.slice(i, i + n).mkString(" ")) >= 2)
        val runs = scala.collection.mutable.ArrayBuffer[List[Int]]()
        for (p <- dup) {
          if (runs.nonEmpty && runs.last.head == p - 1) runs(runs.length - 1) = p :: runs.last
          else runs += List(p)
        }
        runs.map(r => (id, r.min.toLong, (r.max + n - 1).toLong))
          .filter(s => s._3 - s._2 + 1 >= minSpan)
      }).flatten.toSet
      val got = graft.operators.TextAnalysis
        .repeatedSubstringSpans(corpus.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect, s"corpus=$corpus\ngot $got\nexpect $expect")
    }
  }

  test("perceptual hashes equal the analytic byte derivation on random texts") {
    // independent model of the q117 oracle arithmetic: 32-wide
    // zero-padded byte image, integer block means, MSB-first packing
    def analytic(text: String): (Long, Long) = {
      val bytes = text.getBytes("UTF-8")
      val h = math.max(1, (bytes.length + 31) / 32)
      def px(y: Int, x: Int): Long = {
        val i = y * 32 + x
        if (i < bytes.length) (bytes(i) & 0xff).toLong else 0L
      }
      def means(gw: Int): Array[Long] = Array.tabulate(gw * 8) { c =>
        val gy = c / gw; val gx = c % gw
        val y0 = gy * h / 8
        val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
        val x0 = gx * 32 / gw; val x1 = (gx + 1) * 32 / gw
        var s = 0L
        for (y <- y0 until y1; x <- x0 until x1) s += px(y, x)
        s / ((y1 - y0).toLong * (x1 - x0))
      }
      val md = means(9)
      var dh = 0L
      for (gy <- 0 until 8; gx <- 0 until 8)
        dh = (dh << 1) | (if (md(gy * 9 + gx + 1) > md(gy * 9 + gx)) 1L else 0L)
      val ma = means(8)
      val mean = ma.sum / 64
      var ah = 0L
      for (c <- 0 until 64) ah = (ah << 1) | (if (ma(c) > mean) 1L else 0L)
      (dh, ah)
    }
    // random printable text with lengths straddling the row boundaries
    val textGen = for {
      len <- Gen.oneOf(Gen.choose(0, 40), Gen.oneOf(31, 32, 33, 255, 256, 257))
      cs <- Gen.listOfN(len, Gen.choose(32, 126).map(_.toChar))
    } yield cs.mkString
    val texts = samples(textGen, 12).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = graft.operators.Multimodal
      .perceptualHashes(spark, texts.toDF("doc_id", "text"))
      .collect().map(p => p.doc_id -> ((p.dhash, p.ahash))).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == analytic(t),
        s"len=${t.length}: decoded-domain hash != analytic for doc $id")
    }
  }

  test("BPE merge fold: concatenating final symbols reproduces each word") {
    val docs = graft.sources.Tables.documents(spark, sf001)
    // run the merges, then re-derive the final symbol table by
    // encoding — the invariant is structural: merging never loses or
    // reorders characters
    val rules = graft.operators.TextAnalysis.bpeMerges(docs)
      .collect() // forces the loop; rules themselves checked in q76
    assert(rules.length == graft.operators.TextAnalysis.BpeK)
    val bad = graft.operators.TextAnalysis
      .bpeEncodeSymbols(docs)
      .filter(concat_ws("", col("t")) =!= col("w"))
      .count()
    assert(bad == 0L, "some word's symbols no longer concatenate to it")
  }

  test("multi-branch union round-trip: random branch choices survive to_avro∘from_avro") {
    GraftFunctions.register(spark)
    val schemaJson =
      """{"type":"record","name":"U","fields":[
        |{"name":"id","type":"long"},
        |{"name":"v","type":["null","long","string",
        |  {"type":"record","name":"P","fields":[
        |    {"name":"a","type":"int"},{"name":"b","type":"string"}]}]}]}"""
        .stripMargin
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val pSchema = schema.getField("v").schema().getTypes.get(3)
    val rng = new scala.util.Random(7)
    // encode 60 random rows with the PLAIN avro library, one of the
    // four branches (incl. null) chosen at random per row
    val rows = (1L to 60L).map { id =>
      val v: AnyRef = rng.nextInt(4) match {
        case 0 => null
        case 1 => java.lang.Long.valueOf(rng.nextLong())
        case 2 => new org.apache.avro.util.Utf8(s"s${rng.nextInt(1000)}")
        case 3 =>
          val p = new org.apache.avro.generic.GenericData.Record(pSchema)
          p.put("a", rng.nextInt()); p.put("b", new org.apache.avro.util.Utf8(s"b$id"))
          p
      }
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("id", id); rec.put("v", v)
      val bos = new java.io.ByteArrayOutputStream()
      val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, null)
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema).write(rec, enc)
      enc.flush()
      bos.toByteArray
    }
    // decode → re-encode through the engine; the wire bytes must be
    // IDENTICAL (avro binary is canonical for a fixed writer schema,
    // so any branch mix-up or member loss changes the bytes)
    val back = rows.map(Tuple1(_)).toDF("value")
      .select(GraftFunctions.fromAvro(col("value"), schemaJson).as("r"))
      .select(GraftFunctions.toAvro(col("r"), schemaJson))
      .collect().map(_.getAs[Array[Byte]](0).toSeq)
    assert(back.toSet == rows.map(_.toSeq).toSet,
      "every random union row must round-trip byte-identically")
  }

  test("jacobiEigen reconstructs random symmetric matrices (A = V diag(l) V^T)") {
    val dimGen = Gen.choose(2, 12)
    val cellGen = Gen.choose(-5.0, 5.0)
    for (d <- samples(dimGen, 8)) {
      val raw = Array.fill(d, d)(samples(cellGen, 1).head)
      val a = Array.tabulate(d, d)((i, j) => (raw(i)(j) + raw(j)(i)) / 2.0)
      val (vals, vecs) = graft.operators.Similarity.jacobiEigen(a)
      // eigenvalues descending
      assert(vals.zip(vals.tail).forall { case (x, y) => x >= y - 1e-9 })
      // vecs(k) is the k-th eigenvector (rows of the returned matrix):
      // reconstruct A_ij = sum_k vals(k) * vecs(k)(i) * vecs(k)(j)
      for (i <- 0 until d; j <- 0 until d) {
        val rec = (0 until d).map(k => vals(k) * vecs(k)(i) * vecs(k)(j)).sum
        assert(math.abs(rec - a(i)(j)) < 1e-7,
          s"d=$d A($i)($j)=${a(i)(j)} reconstructed $rec")
      }
      // orthonormality of eigenvectors
      for (p <- 0 until d; q <- p until d) {
        val dot = (0 until d).map(i => vecs(p)(i) * vecs(q)(i)).sum
        val expect = if (p == q) 1.0 else 0.0
        assert(math.abs(dot - expect) < 1e-8)
      }
    }
  }
}
