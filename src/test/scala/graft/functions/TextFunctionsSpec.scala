package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("token counts") {
    val got = Seq("the quick  brown fox", "", "  ", "a,b").toDF("t")
      .select(TextFunctions.tokenCountWs(col("t")).as("ws"),
        TextFunctions.tokenCountBpe(col("t")).as("bpe"))
      .as[(Int, Int)].collect().toSeq
    assert(got.map(_._1) == Seq(4, 0, 0, 1))
    // "a,b" -> [a][,][b] = 3 BPE-ish tokens
    assert(got(3)._2 == 3)
  }

  test("char shingles") {
    val got = Seq("abcd", "ab").toDF("t")
      .select(graft.Reference.charShingles(col("t"), 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("abc", "bcd"))
    assert(got(1).isEmpty)
  }

  test("word shingles are distinct and ordered windows") {
    val got = Seq("a b c d", "a b").toDF("t")
      .select(TextFunctions.wordShingles(col("t"), 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("fingerprint normalizes whitespace and case") {
    val fps = Seq("Hello  World", "hello world", "hello worlds").toDF("t")
      .select(TextFunctions.fingerprint(col("t"))).as[String].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("langId picks marker-word argmax, 'und' when silent") {
    val got = Seq(
      "the cat and the dog is here with that",
      "el gato es que con los para",
      "xyz qqq").toDF("t")
      .select(TextFunctions.langId(col("t"))).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "und"))
  }

  test("quality score bounded in [0,1]") {
    val got = Seq("the and of to in a short doc", "", "!!!!....;;;;").toDF("t")
      .select(TextFunctions.qualityScore(col("t"))).as[Double].collect()
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("winnowing fingerprints are position-robust: shifted text shares most fingerprints") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((1L, base), (2L, "PREFIX " + base), (3L, "zz"))
      .toDF("doc_id", "text")
    val rows = TextFunctions.winnowFingerprints(df, col("doc_id"), col("text"), 5, 4)
      .as[(Long, Long)].collect()
    val byDoc = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(!byDoc.contains(3L)) // below k+w-1 chars -> no fingerprints
    val overlap = byDoc(1L).intersect(byDoc(2L)).size.toDouble / byDoc(1L).size
    assert(overlap > 0.6, s"overlap=$overlap")
  }

  test("tfIdfTopK ranks rare terms above common ones") {
    // 'rare' appears in 1 of 3 docs (idf=ln 3), 'the' in all (idf=0)
    val df = Seq((1L, "the rare rare word"), (2L, "the other thing"), (3L, "the end"))
      .toDF("doc_id", "text")
    val got = TextFunctions.tfIdfTopK(df, col("doc_id"), col("text"), 2)
      .select(col("doc_id"), col("term"), col("rnk"))
      .as[(Long, String, Int)].collect().toSet
    assert(got.contains((1L, "rare", 1))) // tf=2 x ln(3) beats everything
    // 'the' scores 0 everywhere: never rank 1 in doc 1
    assert(!got.contains((1L, "the", 1)))
  }

  test("redactPii masks emails, urls and phones; counts match") {
    val df = Seq("mail a@b.co and c.d@e.org see https://x.y/z?q=1 call 555-123")
      .toDF("t")
    val got = df.select(
        TextFunctions.redactPii(col("t")).as("r"),
        TextFunctions.piiMatchCount(col("t"), TextFunctions.piiPatterns(0)._1).as("e"),
        TextFunctions.piiMatchCount(col("t"), TextFunctions.piiPatterns(1)._1).as("u"),
        TextFunctions.piiMatchCount(col("t"), TextFunctions.piiPatterns(2)._1).as("p"))
      .as[(String, Int, Int, Int)].head()
    assert(got._1 == "mail [EMAIL] and [EMAIL] see [URL] call [PHONE]")
    assert((got._2, got._3, got._4) == (2, 1, 1))
  }

  test("repetitionMetrics: hand-computed gram fractions") {
    // "a b a b a": 2-grams = [a b, b a, a b, b a] -> top 2/4 = 0.5
    //              3-grams = [a b a, b a b, a b a] -> dup 2/3
    // "x y z": both 2-grams unique -> top = 1/2; no dup 3-gram -> 0
    // "solo": too short for any gram -> 0, 0
    val df = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextFunctions.repetitionMetrics(df, col("doc_id"), col("text"))
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 0.5, 0.666667), (2L, 0.5, 0.0), (3L, 0.0, 0.0)))
  }
  test("bigramLm: hand-computed pair counts and conditional probabilities") {
    val df = Seq((1L, "a b c a b"), (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextFunctions.bigramLm(df, col("doc_id"), col("text"))
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // pairs: doc1 = (a b)(b c)(c a)(a b), doc2 = (a b); doc3 has none
    assert(got == Seq(("a", "b", 3L, 1.0), ("b", "c", 1L, 1.0), ("c", "a", 1L, 1.0)))
    // probabilities per w1 sum to 1
    val sums = TextFunctions.bigramLm(df, col("doc_id"), col("text"))
      .groupBy(col("w1")).agg(round(sum(col("p_cond")), 4).as("s"))
      .as[(String, Double)].collect()
    assert(sums.forall(_._2 == 1.0))
  }

  test("perplexityFilter: predictable docs score lower NLL than odd ones") {
    // LM corpus: "a b" dominates after "a"; "a z" is the rare branch
    val lmDf = (1L to 9L).map(i => (i, "a b a b a b")) :+ (10L, "a z")
    val df = Seq(
      (100L, "a b a b"),   // all high-probability bigrams
      (101L, "a z"),       // one rare bigram
      (102L, "solo"))      // < 2 tokens: not scored
      .toDF("doc_id", "text")
    val got = TextFunctions.perplexityFilter(
      df, col("doc_id"), col("text"),
      lmDf.toDF("doc_id", "text"), col("doc_id"), col("text"),
      keepBelow = 1.0)
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(102L))
    assert(got(100L)._3 < got(101L)._3)
    assert(got(100L)._4 && !got(101L)._4)
  }

  test("corpusCard: counts, dup rate and language share per source") {
    val df = Seq(
      (1L, "srcA", "the cat is on the mat", 22L),
      (2L, "srcA", "the  cat is  on the mat ", 24L),  // ws-normalized dup of 1
      (3L, "srcA", "el gato es que la los", 21L),
      (4L, "srcB", "the dog and the fox", 19L))
      .toDF("doc_id", "source", "text", "n_chars")
    val got = TextFunctions.corpusCard(df, col("source"), col("text"), col("n_chars"))
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    val a = got("srcA")
    assert(a._2 == 3 && a._3 == 18)          // 6 + 6 + 6 tokens
    assert(a._6 == 66.666667)                 // 2 of 3 predicted en
    assert(a._7 == 33.333333)                 // 1 dup of 3
    val bCard = got("srcB")
    assert(bCard._2 == 1 && bCard._6 == 100.0 && bCard._7 == 0.0)
  }

  test("canonicalizeUrl: case, www, tracking params, sort, slash, fragment") {
    val urls = Seq(
      "https://WWW.Shop3.COM/catalog/item5/?id=9&utm_source=feed&b=2&a=1#frag",
      "https://shop3.com/catalog/item5?a=1&b=2&id=9",
      "http://img.Shop3.com/x/?ref=home&fbclid=abc&gclid=1&msclkid=2",
      "not a url at all")
      .toDF("url")
    val got = urls.select(TextFunctions.canonicalizeUrl(col("url"))).as[String].collect()
    assert(got(0) == "https://shop3.com/catalog/item5?a=1&b=2&id=9")
    assert(got(1) == got(0)) // messy and clean forms canonicalize identically
    assert(got(2) == "http://img.shop3.com/x") // subdomain kept, all params tracking
    assert(got(3) == "://")  // non-URL -> empty-host sentinel the caller filters
  }

  test("canonicalizeUrl keeps utm-lookalike and bare params correctly") {
    val got = Seq("https://a.com/p?utmost=1&ref=x&refresh=2&utm_x")
      .toDF("url").select(TextFunctions.canonicalizeUrl(col("url"))).as[String].head()
    // utmost/refresh are NOT tracking params; bare utm_x (no '=') is
    assert(got == "https://a.com/p?refresh=2&utmost=1")
  }

  test("registeredDomain takes the last two host labels, stripping www") {
    val got = Seq(
      "https://www.shop3.com/x", "https://img.cdn.shop3.com/y",
      "https://localhost/z")
      .toDF("url").select(TextFunctions.registeredDomain(col("url"))).as[String].collect()
    assert(got.toSeq == Seq("shop3.com", "shop3.com", "localhost"))
  }

  test("slidingChunks: window count, offsets, tail window, full coverage") {
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc(1)), (2L, doc(64)), (3L, doc(65)), (4L, doc(100)),
      (5L, doc(112)), (6L, doc(160))).toDF("doc_id", "text")
    val got = TextFunctions.slidingChunks(df, col("doc_id"), col("text"), 64, 48)
      .as[(Long, Int, Int, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // expected window counts: 1 + ceil(max(n-64,0)/48)
    assert(got(1L).length == 1 && got(2L).length == 1)
    assert(got(3L).length == 2 && got(4L).length == 2)
    assert(got(5L).length == 2 && got(6L).length == 3)
    // offsets advance by the stride; tail window short but covers the end
    assert(got(6L).map(_._3).toSeq == Seq(0, 48, 96))
    assert(got(6L).map(_._4).toSeq == Seq(64, 64, 64))
    assert(got(4L).map(c => (c._3, c._4)).toSeq == Seq((0, 64), (48, 52)))
    // every word covered: last window's start + n_w == doc words
    got.foreach { case (id, cs) =>
      val last = cs.last
      val n = Map(1L -> 1, 2L -> 64, 3L -> 65, 4L -> 100, 5L -> 112, 6L -> 160)(id)
      assert(last._3 + last._4 == n, s"doc $id")
    }
    // fingerprint is the md5 of exactly the window's words
    val md5w1 = java.security.MessageDigest.getInstance("MD5")
      .digest(doc(1).getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L).head._5 == md5w1)
  }

  test("slidingChunks rejects bad size/stride") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextFunctions.slidingChunks(df, col("doc_id"), col("text"), 4, 8)
    }
  }

  test("hashedClassifierScore: feature count, sign-consistent label, prob bounds") {
    val df = Seq((1L, "alpha"), (2L, "alpha beta gamma"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = TextFunctions.hashedClassifierScore(df, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
    // unigrams + bigrams: n tokens -> 2n-1 features
    assert(got.map(_._2).toSeq == Seq(1L, 5L, 3L))
    got.foreach { case (_, n, wSum, prob, label) =>
      assert(label == (wSum >= 0))
      assert(prob > 0.0 && prob < 1.0)
      // mean weight bounded by the weight-table range => prob away from 0/1
      assert(math.abs(wSum) <= 1000L * n)
    }
  }

  test("sourceKl: local replay; the minority skewed source diverges most") {
    // s1 dominates the corpus mix; s2 is a small all-"x" outlier
    val docs = Seq(
      (1L, "a b a b a b", "s1"),
      (2L, "x x", "s2")
    ).toDF("doc_id", "text", "source")
    val got = TextFunctions.sourceKl(docs, col("source"), col("text"))
      .select(col("source"), col("n_tokens"), col("vocab_size"),
        col("kl_nats"), col("top_term"))
      .as[(String, Long, Long, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // corpus: a=3 b=3 x=2, V=3, N=8
    def kl(cs: Map[String, Long], ns: Long): Double = {
      val corpus = Map("a" -> 3L, "b" -> 3L, "x" -> 2L)
      def r9(v: Double) = BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val s = Seq("a", "b", "x").map { t =>
        val p = (cs.getOrElse(t, 0L) + 0.5) / (ns + 1.5)
        val q = (corpus(t) + 0.5) / (8 + 1.5)
        r9(p * math.log(p / q))
      }.sum
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (n1, v1, k1, _) = got("s1")
    val (n2, v2, k2, top2) = got("s2")
    assert((n1, v1) == ((6L, 3L)) && (n2, v2) == ((2L, 3L)))
    assert(math.abs(k1 - kl(Map("a" -> 3L, "b" -> 3L), 6L)) < 1e-6)
    assert(math.abs(k2 - kl(Map("x" -> 2L), 2L)) < 1e-6)
    assert(k2 > k1)          // the outlier source diverges more
    assert(top2 == "x")      // and its driver is the over-represented term
  }

  test("lineCorrections: each rule fires independently; doc gate on words") {
    // lineWords=3, minWords=2, distinctRatioPct=70, maxRemovedPct=50
    val docs = Seq(
      (1L, "x"),                      // single 1-word line -> fragment
      (2L, "cat dog fox"),            // no function word -> nav-like
      (3L, "the the the"),            // has 'the' but 1/3 distinct -> repetitive
      (4L, "the cat dog"),            // clean line -> kept
      (5L, "the cat dog pig rat")     // clean full line + 2-word tail [pig rat]
                                      // (no stopword -> dropped); 2/5 words
                                      // removed = 40% <= 50% -> doc kept
    ).toDF("doc_id", "text")
    val got = TextFunctions.lineCorrections(docs, col("doc_id"), col("text"),
        lineWords = 3, minWords = 2, distinctRatioPct = 70, maxRemovedPct = 50)
      .select(col("doc_id"), col("n_lines"), col("n_removed_lines"),
        col("removed_word_frac"), col("doc_kept"), col("kept_text"))
      .as[(Long, Long, Long, Double, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(1L) == ((1L, 1L, 1.0, 0, "")))
    assert(got(2L) == ((1L, 1L, 1.0, 0, "")))
    assert(got(3L) == ((1L, 1L, 1.0, 0, "")))
    assert(got(4L) == ((1L, 0L, 0.0, 1, "the cat dog")))
    assert(got(5L) == ((2L, 1L, 0.4, 1, "the cat dog")))
  }

  test("lineCorrections: removed-word fraction over the gate drops the doc") {
    // 3-word clean line + 6 removed words = 66% removed > 50% -> doc dropped
    val docs = Seq(
      (1L, "the cat dog zz zz zz xx yy ww")
    ).toDF("doc_id", "text")
    val got = TextFunctions.lineCorrections(docs, col("doc_id"), col("text"),
        lineWords = 3, minWords = 2, distinctRatioPct = 70, maxRemovedPct = 50)
      .select(col("n_lines"), col("n_removed_lines"), col("removed_word_frac"),
        col("doc_kept"), col("kept_text"))
      .as[(Long, Long, Double, Int, String)].collect().head
    assert(got == ((3L, 2L, 0.666667, 0, "the cat dog")))
  }

  test("kneserNeyBigram matches a hand-replayed tiny corpus") {
    // corpus: "a b a b c" + "b a b" -> bigram counts (a,b):3 (b,a):2 (b,c):1
    // fw: a -> c1=3 n1fw=1; b -> c1=3 n1fw=2. bw: every w2 has n1bw=1; B=3
    // p_cont = round(1/3, 9) for all three continuations
    val docs = Seq((1L, "a b a b c"), (2L, "b a b")).toDF("doc_id", "text")
    val got = TextFunctions.kneserNeyBigram(docs, col("doc_id"), col("text"))
      .as[(String, String, Long, Double)].collect().toSet
    // (a,b): (3-.75)/3 + .75*1/3*0.333333333 = 0.833333
    // (b,a): (2-.75)/3 + .75*2/3*0.333333333 = 0.583333
    // (b,c): (1-.75)/3 + .75*2/3*0.333333333 = 0.25
    assert(got == Set(
      ("a", "b", 3L, 0.833333),
      ("b", "a", 2L, 0.583333),
      ("b", "c", 1L, 0.25)))
  }

  test("kneserNeyBigram: per-context observed mass stays in (0, 1]") {
    // interpolated KN sums to 1 over the FULL vocabulary; the observed
    // bigrams can only account for at most that (plus rounding slack)
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log"),
      (3L, "a cat and a dog")).toDF("doc_id", "text")
    val sums = TextFunctions.kneserNeyBigram(docs, col("doc_id"), col("text"))
      .groupBy(col("w1")).agg(sum(col("p_kn")).as("s"))
      .as[(String, Double)].collect()
    assert(sums.nonEmpty)
    sums.foreach { case (w1, s) =>
      assert(s > 0.0 && s <= 1.0 + 1e-4, s"$w1 -> $s")
    }
  }

  test("gopherRules: every rule fires on its crafted violator and the clean doc passes") {
    val good = ("the quick value and table " * 12).trim // 60 words, 2 stops
    val docs = Seq(
      (1L, good),
      (2L, "tiny the and doc"),                              // word count
      (3L, good + " aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa" * 40), // mean len
      (4L, good + (" #" * 8)),                               // symbol ratio
      (5L, good + ("\n- x" * 10) + "\nplain tail" + ("\n- x" * 30)), // bullets
      (6L, good + "\nso more...\nand more...\nyet more..."), // ellipsis
      (7L, "the and 1 2 3 4 5 6 7 8 9 0"),                   // alpha words
      (8L, ("zebra yak xylophone " * 20).trim))              // stopwords
      .toDF("doc_id", "text")
    val got = TextFunctions.gopherRules(docs, col("doc_id"), col("text"),
        minWords = 50, maxWords = 100000)
      .select(col("doc_id"), col("r_word_count"), col("r_word_len"),
        col("r_symbol"), col("r_bullet"), col("r_ellipsis"), col("r_alpha"),
        col("r_stop"), col("passes"))
      .as[(Long, Int, Int, Int, Int, Int, Int, Int, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1, 1, 1, 1, 1, 1, 1, 1)))
    assert(got(2L)._2 == 0 && got(2L)._9 == 0)  // too short
    assert(got(3L)._3 == 0)                      // mean word length > 10
    assert(got(4L)._4 == 0)                      // symbol-to-word > 0.1
    assert(got(5L)._5 == 0)                      // > 90% bullet lines
    assert(got(6L)._6 == 0)                      // > 30% ellipsis lines
    assert(got(7L)._7 == 0)                      // < 80% alphabetic words
    assert(got(8L)._8 == 0 && got(8L)._9 == 0)   // no stop words
  }

  test("piiRedact: each category counted and scrubbed; Luhn separates real cards") {
    val docs = Seq(
      (1L, "mail a.b+c@ex-ample.co.uk and b@x.io end"),
      (2L, "valid 4532015112830366 invalid 4532015112830367 short 123456"),
      (3L, "ssn 123-45-6789 phone 555-867-5309 dotted 555.867.5309"),
      (4L, "ip 10.0.200.77 and 192.168.1.1, not 1.2.3"),
      (5L, "clean text with no identifiers at all"))
      .toDF("doc_id", "text")
    val got = TextFunctions.piiRedact(docs, col("doc_id"), col("text"))
      .as[(Long, Int, Int, Int, Int, Int, Int, Int, Int, Int)]
      .collect().map(r => r._1 -> r).toMap
    // (doc_id, n_email, n_card, n_ssn, n_phone, n_ip, n_card_valid, n_pii, orig, redacted)
    assert(got(1L)._2 == 2 && got(1L)._8 == 2)
    assert(got(2L)._3 == 2 && got(2L)._7 == 1)   // both counted, one Luhn-valid
    assert(got(3L)._4 == 1 && got(3L)._5 == 2)   // dash + dot phone forms
    assert(got(4L)._6 == 2)                       // 1.2.3 is not an IPv4
    assert(got(5L)._8 == 0 &&
      got(5L)._9 == got(5L)._10)                  // nothing redacted -> len equal
    // redaction replaces, never deletes content around matches
    assert(got(2L)._10 == ("valid <CARD> invalid <CARD> short 123456").length)
  }

  test("piiRedact: sequential semantics — an email's digits never recount as PII") {
    val docs = Seq((1L, "reach 4532015112830366abc@mail.com today"))
      .toDF("doc_id", "text")
    val r = TextFunctions.piiRedact(docs, col("doc_id"), col("text"))
      .select(col("n_email"), col("n_card"), col("n_ip")).as[(Int, Int, Int)]
      .collect().head
    assert(r == ((1, 0, 0)))                      // consumed by the email pass
  }

  test("codeDetect: code fires all five signals, prose none, empty text safe") {
    val code = "import foo.bar\npublic void doThing() {\n  int rowCount = 0;\n" +
      "  if (rowCount < 10) {\n    total_count = rowCount + otherValue\n  }\n}"
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "rests under a tree while the afternoon light fades slowly away"
    val docs = Seq((1L, code), (2L, prose), (3L, "")).toDF("doc_id", "text")
    val got = TextFunctions.codeDetect(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("s_symbol"), col("s_semi"), col("s_indent"),
        col("s_camel"), col("s_kw"), col("is_code"))
      .as[(Long, Int, Int, Int, Int, Int, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1, 1, 1, 1, 1, 1)), got(1L))
    assert(got(2L) == ((2L, 0, 0, 0, 0, 0, 0)), got(2L))
    assert(got(3L)._7 == 0)
  }

  test("luhnValid16 agrees with a reference implementation") {
    def luhnRef(s: String): Boolean = {
      val tot = s.zipWithIndex.map { case (ch, i) =>
        val d = ch - '0'
        if ((15 - i) % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum
      tot % 10 == 0
    }
    val nums = Seq("4532015112830366", "4532015112830367", "4111111111111111",
      "1234567812345678", "0000000000000000", "9999999999999999")
    val got = nums.toDF("m")
      .select(col("m"), TextFunctions.luhnValid16(col("m")).as("ok"))
      .as[(String, Boolean)].collect().toMap
    nums.foreach(n => assert(got(n) == luhnRef(n), n))
  }

  test("rougeOverlap: hand-computed clipped unigram and bigram P/R/F1") {
    val docs = Seq(
      (0L, "the cat sat on the mat"), (1L, "the cat lay on the mat"),
      (2L, "alpha beta gamma"), (3L, "alpha beta gamma"),
      (4L, "totally different words"), (5L, "nothing shared here"))
      .toDF("doc_id", "text")
    def run(n: Int) = TextFunctions
      .rougeOverlap(docs, col("doc_id"), col("text"), n)
      .as[(Long, Long, Int, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    val r1 = run(1)
    // clipped unigrams: min(the:2, the:2)+cat+on+mat = 5 of 6 each side
    assert(r1(0L) == ((0L, 1L, 1, 6L, 6L, 5L, 0.833333, 0.833333, 0.833333)))
    assert(r1(2L) == ((2L, 3L, 1, 3L, 3L, 3L, 1.0, 1.0, 1.0)))
    assert(r1(4L)._6 == 0L && r1(4L)._9 == 0.0) // disjoint pair
    val r2 = run(2)
    // shared bigrams: "the cat", "on the", "the mat" = 3 of 5 each side
    assert(r2(0L) == ((0L, 1L, 2, 5L, 5L, 3L, 0.6, 0.6, 0.6)))
    assert(r2(2L)._9 == 1.0)
  }

  test("readability: hand-counted words/sentences/syllables and the FK chain") {
    // "the cat sat. it ran!" -> 5 words, 2 sentences, 5 vowel groups
    val docs = Seq((1L, "the cat sat. it ran!"), (2L, "xyz")) // 2: no vowels
      .toDF("doc_id", "text")
    val got = TextFunctions.readability(docs, col("doc_id"), col("text"))
      .as[(Long, Int, Int, Int, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, w, sn, sy, fk, ease) = got(1L)
    assert((w, sn, sy) == ((5, 2, 5)))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(fk == r6(0.39 * 2.5 + 11.8 * 1.0 - 15.59))
    assert(ease == r6(206.835 - 1.015 * 2.5 - 84.6 * 1.0))
    // no sentence punctuation floors at 1 sentence; zero syllables fine
    assert(got(2L)._2 == 1 && got(2L)._3 == 1 && got(2L)._4 == 1)
  }

  test("stupidBackoffScore: all four tiers fire and the log-score replays by hand") {
    // train "a b c a b d": c3(a,b,c)=1, c2(a,b)=2, c1(a)=2, N=6
    val train = Seq((0L, "a b c a b d")).toDF("doc_id", "text")
    // test trigrams: (a,b,c) tier3 s=1/2; (b,c,x) OOV; (c,x,a) tier1
    // s=((2/6)*0.4)*0.4; (x,a,b) tier2 s=(2/2)*0.4
    val test = Seq((1L, "a b c x a b")).toDF("doc_id", "text")
    val got = TextFunctions.stupidBackoffScore(
        train, test, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().head
    assert((got._2, got._3, got._4, got._5, got._6) == ((4L, 1L, 1L, 1L, 1L)))
    def q9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    val exp = BigDecimal(
        q9(math.log(1.0 / 2.0)) + q9(math.log((2.0 / 2.0) * 0.4))
          + q9(math.log(((2.0 / 6.0) * 0.4) * 0.4)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._7 == exp, s"got ${got._7} expected $exp")
  }

  test("stupidBackoffScore: a fully in-LM test doc has only tier-3 hits") {
    val train = Seq((0L, "u v w u v w u v w")).toDF("doc_id", "text")
    val test = Seq((1L, "u v w u v")).toDF("doc_id", "text")
    val got = TextFunctions.stupidBackoffScore(
        train, test, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().head
    assert(got._2 == 3L && got._3 == 3L && got._6 == 0L)
  }

  test("rougeOverlap: a side too short for the gram order drops the pair") {
    val docs = Seq((0L, "one"), (1L, "one two three")).toDF("doc_id", "text")
    assert(TextFunctions.rougeOverlap(docs, col("doc_id"), col("text"), 2)
      .count() == 0) // candidate has no bigrams
    assert(TextFunctions.rougeOverlap(docs, col("doc_id"), col("text"), 1)
      .count() == 1)
  }

  private def extractOne(html: String, minWords: Int = 3, maxLinkPct: Int = 50) =
    TextFunctions.htmlExtract(
        Seq((0L, html)).toDF("doc_id", "html"),
        col("doc_id"), col("html"), minWords, maxLinkPct)
      .as[(Long, Int, Int, Long, Long, Long, String)].collect().head

  test("htmlExtract strips script/style/comment content, keeps body text") {
    val got = extractOne(
      """<html><head><style>body { color: red; }</style>
        |<script>var x = alert("hidden words here");</script></head>
        |<body><!-- a comment with words --><p>the visible body text</p>
        |</body></html>""".stripMargin)
    assert(got._7 == "the visible body text", got)
    assert(got._2 == 1 && got._3 == 1 && got._4 == 4L)
  }

  test("htmlExtract: block tags segment; short and link-dense blocks drop") {
    val got = extractOne(
      """<div>Header</div>
        |<nav><a href="/">Home page</a> <a href="/b">About page</a> now</nav>
        |<p>the real article body has the words the reader wants</p>""".stripMargin)
    // "Header" (1 word < 3) dropped; nav = 5 words / 4 linked (80%) dropped;
    // article kept
    assert(got._2 == 3 && got._3 == 1, got)
    assert(got._7.startsWith("the real article"), got)
    assert(got._6 == 4L, got) // link words counted corpus-wide
  }

  test("htmlExtract: link-density boundary is inclusive (exactly maxLinkPct keeps)") {
    // 3 of 6 words linked = exactly 50%
    val kept = extractOne("""<p>Visit <a href="/s">our great shop</a> today folks</p>""")
    assert(kept._3 == 1 && kept._5 == 6L, kept)
    // 2 of 3 linked = 66% > 50% drops
    val dropped = extractOne("""<p>See <a href="/x">more stuff</a></p>""")
    assert(dropped._3 == 0 && dropped._2 == 1, dropped)
  }

  test("htmlExtract decodes entities AFTER stripping (literal <div> survives)") {
    val got = extractOne(
      "<p>Tom &amp; Jerry wrote &quot;use a &lt;div&gt; tag&quot; &#39;here&#39;</p>")
    assert(got._7 == "Tom & Jerry wrote \"use a <div> tag\" 'here'", got._7)
  }

  test("htmlExtract HTML5 tokenizer rule: '<' before a non-letter is text") {
    val got = extractOne("<p>the fact that 2 < 3 still holds here</p>")
    assert(got._7 == "the fact that 2 < 3 still holds here", got._7)
  }

  test("htmlExtract: source newlines are whitespace, only tags segment") {
    val got = extractOne("<p>line one\ncontinues</p><p>block two is here</p>")
    assert(got._2 == 2, got)
    assert(got._7 == "line one continues\nblock two is here", got._7)
  }

  test("htmlExtract: tagless/empty docs yield a zero row, never drop the doc") {
    val got = extractOne("<script>var only = 'code';</script>")
    assert(got == ((0L, 0, 0, 0L, 0L, 0L, "")), got)
    // plain text with no markup at all is one block of text
    val plain = extractOne("just some plain words")
    assert(plain._2 == 1 && plain._7 == "just some plain words")
  }
}
