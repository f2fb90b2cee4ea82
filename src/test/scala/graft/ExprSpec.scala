package graft

import org.apache.spark.sql.functions._

import graft.expr.{HashEmbed, JaroWinkler, MinHash, SimHash}
import graft.functions._

/** Unit + property tests for the custom expressions (SURVEY.md §5.2).
  * Property tests are seeded-random loops (the scalatest<->scalacheck bridge
  * artifact is not in the offline cache, so forAll is unavailable; the
  * properties themselves are unchanged). */
class ExprSpec extends SparkSpec {

  // --- Jaro-Winkler: known value table (standard published examples) ---
  test("jaro-winkler known values") {
    JaroWinkler.compute("MARTHA", "MARHTA") shouldBe 0.9611 +- 0.0001
    JaroWinkler.compute("DIXON", "DICKSONX") shouldBe 0.8133 +- 0.0001
    JaroWinkler.compute("JELLYFISH", "SMELLYFISH") shouldBe 0.8962 +- 0.0001
    JaroWinkler.compute("abc", "abc") shouldBe 1.0
    JaroWinkler.compute("", "abc") shouldBe 0.0
    JaroWinkler.compute("abc", "") shouldBe 0.0
    JaroWinkler.compute("a", "b") shouldBe 0.0
  }

  test("jaro-winkler boost applies only above the 0.7 threshold (Winkler's original rule)") {
    // jaro("aeae","adbadba") = 0.595...: common prefix 'a' must NOT boost —
    // below the threshold the result IS the jaro base (the DuckDB-checked
    // variant; q33's oracle row depends on this agreement)
    val base = 0.5952380952380952
    JaroWinkler.compute("aeae", "adbadba") shouldBe base +- 1e-12
    // just above the threshold the prefix boost applies: crate/trace has
    // jaro 0.7333 but no common prefix; dwayne/duane (jaro 0.822, prefix 1)
    // gets 0.822 + 0.1*(1-0.822) = 0.84
    JaroWinkler.compute("dwayne", "duane") shouldBe 0.84 +- 1e-4
  }

  test("jaro-winkler properties: symmetric, [0,1], identity=1") {
    val rnd = new scala.util.Random(42)
    def randStr() = {
      val n = rnd.nextInt(25)
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    (0 until 500).foreach { _ =>
      val a = randStr(); val b = randStr()
      val ab = JaroWinkler.compute(a, b)
      val ba = JaroWinkler.compute(b, a)
      ab shouldBe ba +- 1e-12
      ab should be >= 0.0
      ab should be <= 1.0
      JaroWinkler.compute(a, a) shouldBe 1.0
    }
  }

  test("jaro-winkler expression matches object impl through codegen") {
    import spark.implicits._
    val df = Seq(("MARTHA", "MARHTA"), ("kitten", "sitting"), ("x", "x"))
      .toDF("a", "b")
    val rows = df.select(jaro_winkler(col("a"), col("b"))).as[Double].collect()
    rows(0) shouldBe JaroWinkler.compute("MARTHA", "MARHTA") +- 1e-12
    rows(1) shouldBe JaroWinkler.compute("kitten", "sitting") +- 1e-12
    rows(2) shouldBe 1.0
  }

  // --- Levenshtein ratio ---
  test("lev_ratio edge cases") {
    import spark.implicits._
    val df = Seq(("kitten", "sitting"), ("", ""), ("abc", "abc"), ("abc", ""))
      .toDF("a", "b")
    val r = df.select(lev_ratio(col("a"), col("b"))).as[Double].collect()
    r(0) shouldBe (1.0 - 3.0 / 7.0) +- 1e-12
    r(1) shouldBe 1.0
    r(2) shouldBe 1.0
    r(3) shouldBe 0.0
  }

  // --- token jaccard ---
  test("token_jaccard") {
    import spark.implicits._
    val df = Seq(
      ("alpha beta gamma", "beta gamma delta"),
      ("a b", "a b"),
      ("x", "y")).toDF("a", "b")
    val r = df.select(token_jaccard(col("a"), col("b"))).as[Double].collect()
    r(0) shouldBe 0.5 +- 1e-12
    r(1) shouldBe 1.0
    r(2) shouldBe 0.0
  }

  // --- minhash ---
  test("minhash determinism + jaccard estimation sanity") {
    val a = MinHash.signatureArray("huntington disease gene", 3, 128, 42L)
    val b = MinHash.signatureArray("huntington disease gene", 3, 128, 42L)
    a shouldBe b
    // near-identical strings agree on most hash slots
    val c = MinHash.signatureArray("huntington diseose gene", 3, 128, 42L)
    val agree = a.zip(c).count { case (x, y) => x == y }
    agree.toDouble / 128 should be > 0.5
    // unrelated strings agree on few slots
    val d = MinHash.signatureArray("completely different words", 3, 128, 42L)
    val agree2 = a.zip(d).count { case (x, y) => x == y }
    agree2.toDouble / 128 should be < 0.2
  }

  test("minhash signature invariant under content repetition") {
    // the shingle SET of s+s (joined seamlessly) contains all shingles of s;
    // exact self-repetition keeps min-hashes for shared shingles
    val a = MinHash.signatureArray("abcdefgh", 3, 64, 42L)
    val b = MinHash.signatureArray("abcdefghabcdefgh", 3, 64, 42L)
    // every min over a subset is >= min over superset
    a.zip(b).foreach { case (x, y) => y should be <= x }
  }

  test("lsh band keys: identical strings share all bands, disjoint share none") {
    import spark.implicits._
    val df = Seq("huntington disease", "huntington disease", "zzz qqq vvv")
      .toDF("s")
      .select(col("s"), lsh_band_keys(minhash_sig(col("s")), 16, 4).as("bands"))
    val rows = df.as[(String, Seq[String])].collect()
    rows(0)._2 shouldBe rows(1)._2
    rows(0)._2.toSet.intersect(rows(2)._2.toSet) shouldBe empty
    rows(0)._2.size shouldBe 16
  }

  // --- simhash ---
  test("simhash: identical tokens identical hash; similar texts near in hamming") {
    val a = SimHash.compute("the quick brown fox jumps over the lazy dog", 42L)
    val b = SimHash.compute("the quick brown fox jumps over the lazy dog", 42L)
    a shouldBe b
    val c = SimHash.compute("the quick brown fox jumps over the lazy cat", 42L)
    val d = SimHash.compute("totally unrelated words appear here instead now", 42L)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    ham(a, c) should be < ham(a, d)
  }

  // --- hash embed + cosine ---
  test("hash_embed: unit norm, deterministic, same-text cosine 1") {
    val v = HashEmbed.embedArray("alpha beta gamma", 128, 42L)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    norm shouldBe 1.0 +- 1e-5
    import spark.implicits._
    val df = Seq(
      ("alpha beta gamma", "alpha beta gamma"),
      ("alpha beta gamma", "delta epsilon zeta omega theta iota")).toDF("a", "b")
    val r = df.select(cosine_sim(hash_embed(col("a")), hash_embed(col("b"))))
      .as[Double].collect()
    r(0) shouldBe 1.0 +- 1e-6
    math.abs(r(1)) should be < 0.4
  }

  test("cosine_sim on explicit float arrays") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f))).toDF("a", "b")
    val r = df.select(cosine_sim(col("a"), col("b"))).as[Double].collect()
    r(0) shouldBe 1.0 +- 1e-6
    r(1) shouldBe 0.0 +- 1e-6
    r(2) shouldBe (1.0 / math.sqrt(2)) +- 1e-6
  }

  // --- context window ---
  test("context_window_at does not overshoot when the mention is glued to punctuation") {
    import spark.implicits._
    // "(Gadget" is ONE whitespace-token: the "(" fragment before the mention
    // offset must not count as a full token (round-2 advice: the window used
    // to shift one token right)
    val text = "aa bb (Gadget Prime) cc dd ee"
    val begin = text.indexOf("Gadget")
    val df = Seq((text, "Gadget Prime", begin)).toDF("text", "surface", "begin")
    val r = df.select(
      context_window_at(col("text"), col("surface"), col("begin"), 1))
      .as[String].head()
    r shouldBe "bb (Gadget Prime) cc"
    // whitespace-boundary occurrences are unchanged
    val t2 = "aa bb Gadget Prime cc dd"
    val df2 = Seq((t2, "Gadget Prime", t2.indexOf("Gadget"))).toDF("text", "surface", "begin")
    df2.select(context_window_at(col("text"), col("surface"), col("begin"), 1))
      .as[String].head() shouldBe "bb Gadget Prime cc"
  }

  test("norm_alnum strips to lowercase alphanumerics") {
    import spark.implicits._
    val df = Seq("Hunting-ton's Disease 2!").toDF("s")
    df.select(norm_alnum(col("s"))).as[String].head() shouldBe "huntingtonsdisease2"
  }
}

class SetSimsSpec extends SparkSpec {
  import graft.expr.SetSims
  import graft.functions.{shingle_jaccard, word_ngram_jaccard}
  import org.apache.spark.sql.functions.col

  test("shingle jaccard known values and properties") {
    SetSims.shingleJaccard(
      org.apache.spark.unsafe.types.UTF8String.fromString("abcdef"),
      org.apache.spark.unsafe.types.UTF8String.fromString("abcdef"), 3) shouldBe 1.0
    // "abcd" vs "abce" with k=3: {abc,bcd} vs {abc,bce} => 1/3
    SetSims.shingleJaccard(
      org.apache.spark.unsafe.types.UTF8String.fromString("abcd"),
      org.apache.spark.unsafe.types.UTF8String.fromString("abce"), 3) shouldBe (1.0 / 3.0) +- 1e-12
    SetSims.shingleJaccard(
      org.apache.spark.unsafe.types.UTF8String.fromString(""),
      org.apache.spark.unsafe.types.UTF8String.fromString(""), 3) shouldBe 1.0
  }

  test("word ngram jaccard known values") {
    import spark.implicits._
    val df = Seq(
      ("a b c d", "a b c d", 1.0),
      // 3-grams: {abc,bcd} vs {abc,bcx} => 1/3
      ("a b c d", "a b c x", 1.0 / 3.0),
      ("x y z", "p q r", 0.0)).toDF("a", "b", "expected")
    df.select(word_ngram_jaccard(col("a"), col("b"), 3).as("j"), col("expected"))
      .as[(Double, Double)].collect()
      .foreach { case (j, e) => j shouldBe e +- 1e-12 }
  }

  test("kernels agree with the array-based definition on random strings") {
    val rnd = new scala.util.Random(5)
    import spark.implicits._
    val rows = (0 until 50).map { _ =>
      def str() = (0 until 5 + rnd.nextInt(20))
        .map(_ => "ab cde".charAt(rnd.nextInt(6))).mkString
      (str(), str())
    }
    val df = rows.toDF("a", "b")
    // reference: distinct char 5-shingles via plain scala
    def shingles(s: String, k: Int): Set[String] =
      if (s.isEmpty) Set.empty
      else if (s.length < k) Set(s)
      else (0 to s.length - k).map(i => s.substring(i, i + k)).toSet
    val got = df.select(shingle_jaccard(col("a"), col("b"), 5)).as[Double].collect()
    rows.zip(got).foreach { case ((a, b), j) =>
      val sa = shingles(a, 5); val sb = shingles(b, 5)
      val expected =
        if (sa.isEmpty && sb.isEmpty) 1.0
        else (sa & sb).size.toDouble / (sa | sb).size
      j shouldBe expected +- 1e-12
    }
  }

  test("precomputed sorted hash sets verify identically to the pair kernels") {
    import graft.functions.{ngram_hashes, shingle_hashes, sorted_jaccard}
    val rnd = new scala.util.Random(9)
    import spark.implicits._
    val rows = (0 until 60).map { _ =>
      def str() = (0 until rnd.nextInt(40))
        .map(_ => "ab cde ".charAt(rnd.nextInt(7))).mkString
      (str(), str())
    }
    val df = rows.toDF("a", "b")
    val pairKernel = df.select(
      shingle_jaccard(col("a"), col("b"), 5).as("sj"),
      word_ngram_jaccard(col("a"), col("b"), 3).as("nj")).collect()
    val precomputed = df.select(
      sorted_jaccard(shingle_hashes(col("a"), 5), shingle_hashes(col("b"), 5)).as("sj"),
      sorted_jaccard(ngram_hashes(col("a"), 3), ngram_hashes(col("b"), 3)).as("nj")).collect()
    pairKernel.zip(precomputed).foreach { case (p, q) =>
      q.getDouble(0) shouldBe p.getDouble(0) +- 1e-12
      q.getDouble(1) shouldBe p.getDouble(1) +- 1e-12
    }
  }

  test("sign_bucket expression equals the interpreted HOF composition it replaced") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{aggregate, lit, pmod, sequence, when, xxhash64, zip_with}
    val size = org.apache.spark.sql.functions.size _
    // the round-5 built-in composition, reconstructed verbatim
    def hofBucket(vec: org.apache.spark.sql.Column, nPlanes: Int, seed: Long) = {
      def signOf(plane: Int, i: org.apache.spark.sql.Column) = {
        val h = xxhash64(lit(seed), lit(plane), i)
        when(pmod(h, lit(2)) === 0, lit(1.0d)).otherwise(lit(-1.0d))
      }
      (0 until nPlanes).map { pIdx =>
        val dot = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, i) => x * signOf(pIdx, i)),
          lit(0.0d), (acc, x) => acc + x)
        when(dot > 0, lit(1 << pIdx)).otherwise(lit(0))
      }.reduce(_ + _)
    }
    val rnd = new scala.util.Random(17)
    val df = (0 until 50).map(_ => (0 until 64).map(_ =>
      (rnd.nextFloat() - 0.5f)).toArray).toDF("v")
    Seq((8, 42L), (12, 42L), (6, 7L)).foreach { case (planes, seed) =>
      val got = df.select(sign_bucket(col("v"), planes, seed)).as[Int].collect()
      val want = df.select(hofBucket(col("v"), planes, seed).cast("int")).as[Int].collect()
      got.toSeq shouldBe want.toSeq
    }
  }
}
