package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** q176: the lag/lead chain criterion (L+R+1 ≥ w) vs the textbook
  * sequential winnowing scan (per window of w hashes, select the
  * minimum, rightmost on ties; fingerprints = distinct selections).
  */
class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  private val (k, w) = (TextAnalysis.WinnowK, TextAnalysis.WinnowW)

  /** Schleimer et al. Fig. 5, directly: returns selected positions. */
  private def textbookWinnow(hs: Seq[Long], w: Int): Set[Int] = {
    if (hs.length < w) Set.empty
    else (0 to hs.length - w).map { p =>
      val win = hs.slice(p, p + w)
      val m = win.min
      p + win.lastIndexOf(m) // rightmost minimum
    }.toSet
  }

  /** polyhash64 folded to 32 bits, same as the operator. */
  private def h32(s: String): Long = {
    var h = 0L
    s.getBytes("UTF-8").foreach(b => h = h * 1315423911L + (b & 0xffL))
    h & 0xffffffffL
  }

  private def kgramHashes(text: String, k: Int): Seq[Long] =
    if (text.length < k) Seq.empty
    else (0 to text.length - k).map(i => h32(text.substring(i, i + k)))

  test("q176 winnowFingerprints == textbook scan on random strings") {
    val rng = new scala.util.Random(13)
    val alphabet = "abcab" // small alphabet forces hash ties
    val texts = Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(k + rng.nextInt(60))(
        alphabet(rng.nextInt(alphabet.length))).mkString)
    }
    val df = texts.toDF("doc_id", "text").repartition(4)
    val got = TextAnalysis.winnowFingerprints(df)
      .select("doc_id", "n_grams", "n_fps", "fp_sum", "fp_min", "fp_max")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    texts.foreach { case (id, text) =>
      val hs = kgramHashes(text, k)
      val sel = textbookWinnow(hs, w).toSeq.map(hs)
      if (hs.isEmpty) assert(!got.contains(id))
      else {
        val r = got(id)
        assert(r._2 == hs.length, s"doc $id n_grams")
        assert(r._3 == sel.length, s"doc $id n_fps: got ${r._3}, want ${sel.length}")
        if (sel.nonEmpty) {
          assert(r._4.contains(sel.sum), s"doc $id fp_sum")
          assert(r._5.contains(sel.min) && r._6.contains(sel.max),
            s"doc $id fp_min/max")
        } else assert(r._4.isEmpty)
      }
    }
  }

  test("q176 density guarantee: every in-bounds window selects something") {
    // implied by the textbook equivalence, but assert the user-facing
    // contract directly: n_fps >= ceil(n_windows / w) and >= 1
    val texts = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "aaaaaaaaaaaaaaaaaaaa"), // all-equal hashes: rightmost rule
      (3L, "abcdefghijk")) // exactly one window of w k-grams
    val df = texts.toDF("doc_id", "text")
    val got = TextAnalysis.winnowFingerprints(df)
      .select("doc_id", "n_grams", "n_fps")
      .as[(Long, Long, Long)].collect().map(r => (r._1, (r._2, r._3))).toMap
    texts.foreach { case (id, text) =>
      val m = text.length - k + 1
      val windows = math.max(0, m - w + 1)
      assert(got(id)._1 == m)
      assert(got(id)._2 >= math.max(1, (windows + w - 1) / w),
        s"doc $id density: ${got(id)}")
    }
    // all-equal hashes: each window selects its rightmost element ⇒
    // every position from w-1 on is selected exactly once
    val m2 = 20 - k + 1
    assert(got(2L)._2 == m2 - (w - 1))
  }

  test("q176 shared substring of length >= w+k-1 shares a fingerprint") {
    val common = "zqxjkwpvygmb" // 12 chars >= w+k-1 = 11 for k=8, w=4
    assert(common.length >= w + k - 1)
    val df = Seq((1L, s"aaa${common}bbb"), (2L, s"ccc${common}ddd"))
      .toDF("doc_id", "text")
    // recompute per-doc selected hash SETS via the operator's own
    // columns is not enough here (sum/min/max could coincide), so
    // assert via the textbook model on the same hashes
    val h1 = kgramHashes(s"aaa${common}bbb", k)
    val h2 = kgramHashes(s"ccc${common}ddd", k)
    val s1 = textbookWinnow(h1, w).map(h1)
    val s2 = textbookWinnow(h2, w).map(h2)
    assert(s1.intersect(s2).nonEmpty)
    // and the operator agrees with the textbook counts on both docs
    val got = TextAnalysis.winnowFingerprints(df)
      .select("doc_id", "n_fps").as[(Long, Long)].collect().toMap
    assert(got(1L) == s1.size && got(2L) == s2.size)
  }
}
