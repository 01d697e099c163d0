package graft

import graft.functions.Classifier
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClassifierSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("linearScore: accept <=> score >= 0; n_features = tokens + bigrams; run-stable") {
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001).limit(200)
    val a = Classifier.linearScore(docs, "doc_id", "text", dim = 64)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    val b = Classifier.linearScore(docs, "doc_id", "text", dim = 64)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(a.sameElements(b), "deterministic across runs")
    val nTok = docs.select($"doc_id", size(split($"text", " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    a.foreach { case (id, nf, score, accept) =>
      assert(accept == (score >= 0))
      val t = nTok(id)
      assert(nf == t + math.max(0L, t - 1), s"doc $id features")
    }
  }

  test("linearScore: a custom weight table changes the decision, plumbing intact") {
    val docs = Seq((1L, "a b c"), (2L, "x y")).toDF("doc_id", "text")
    val allNeg = Classifier.linearScore(docs, "doc_id", "text", dim = 8,
      weightExpr = _ => lit(-5L))
    allNeg.collect().foreach { r =>
      assert(r.getLong(2) == -5L * r.getLong(1) && !r.getBoolean(3))
    }
    val keep = Classifier.linearScore(docs, "doc_id", "text", dim = 8,
      keep = Seq("text"))
    assert(keep.columns.contains("text"), "passthrough columns survive")
  }

  test("train: learns a separable weak label; trained table plugs into linearScore") {
    // two disjoint vocabularies -> positives and negatives hash to
    // disjoint bucket sets -> 3 GD steps must separate the scores
    val pos = (0 until 20).map(i => (i.toLong, "alpha beta gamma delta", true))
    val neg = (0 until 20).map(i => (100L + i, "omega sigma tau rho", false))
    val docs = (pos ++ neg).toDF("doc_id", "text", "y")
    val trained = Classifier.train(docs, "doc_id", "text", col("y"),
      dim = 16, iters = 3)
    val rows = trained.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.size == 17 && rows.contains(-1), "dim weights + bias")
    // determinism across runs
    val again = Classifier.train(docs, "doc_id", "text", col("y"),
      dim = 16, iters = 3).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == again)
    // plug the trained table back into the inference path
    val w = rows
    val scored = Classifier.linearScore(docs, "doc_id", "text", dim = 16,
        weightExpr = b => element_at(
          array((0 until 16).map(i => lit(w(i))): _*), b + 1))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val posScores = pos.map(p => scored(p._1))
    val negScores = neg.map(n => scored(n._1))
    assert(posScores.min > negScores.max,
      s"separable: pos ${posScores.min} vs neg ${negScores.max}")
  }

  test("linearScoreWith: NULL-text documents keep their row, scoring at the bare bias") {
    // the apply path must emit a row per INPUT document (the gate's
    // DuckDB oracle LEFT JOINs from docs) — a null text yields a null
    // feature array, which the explode would otherwise silently drop
    val docs = Seq((1L, "alpha beta gamma"), (2L, null), (3L, ""))
      .toDF("doc_id", "text")
    val weights = Seq((-1, 250000L), (0, 7L), (1, -3L))
      .toDF("bucket", "weight_micronats")
    val out = Classifier.linearScoreWith(docs, "doc_id", "text",
        weights, dim = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.size == 3, "one row per input document")
    // null text: zero features, score = bias, accept since bias >= 0
    assert(out(2L) == ((0L, 250000L, true)), out(2L).toString)
    // non-null docs still score through the feature path
    assert(out(1L)._1 > 0L && out(3L)._1 > 0L)
  }

  test("train large-dim seat: weights re-enter as a BroadcastHashJoin at dim 4096, never a dim-literal array") {
    // production hashing-trick dims (2^18+) would break whole-stage
    // codegen's 64KB method limit as an element_at(array(<dim literals>))
    // lookup; the margin pass must plan the weights as a broadcast
    // dim-row build side instead
    val dim = 4096
    val feat = spark.range(100).select(col("id").as("_d"),
      (col("id") % dim).cast("int").as("_b"), lit(2L).as("_cnt"))
    val w = Array.tabulate(dim)(b => (b % 7).toLong - 3L)
    val m = Classifier.marginsOf(feat, w)
    val p = m.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("element_at"), p)
    // values: each doc has one bucket b = id % dim with cnt 2
    val got = m.as[(Long, Long)].collect().toMap
    (0 until 100).foreach { i =>
      assert(got(i.toLong) == 2L * w(i % dim), s"doc $i")
    }
    // end-to-end at a non-trivial dim: train still learns the separable
    // label through the broadcast-join margin pass
    val pos = (0 until 10).map(i => (i.toLong, "alpha beta gamma", true))
    val neg = (0 until 10).map(i => (100L + i, "omega sigma tau", false))
    val docs = (pos ++ neg).toDF("doc_id", "text", "y")
    val trained = Classifier.train(docs, "doc_id", "text", col("y"),
      dim = 4096, iters = 2)
    assert(trained.count() == 4097L, "dim weights + bias")
  }

  test("blocklistHits counts occurrences, not distinct matches") {
    import graft.functions.TextClean
    val docs = Seq((1L, "bad good bad bad"), (2L, "all clean here"))
      .toDF("doc_id", "text")
    val got = TextClean.blocklistFilter(docs, "doc_id", "text", Seq("bad"))
      .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 3, false)))
    assert(got(1) == ((2L, 0, true)))
  }

  test("AhoCorasick counts every overlap-inclusive occurrence, matches brute force") {
    import graft.plans.AhoCorasick
    def brute(s: String, ps: Seq[String]): Int = ps.map { p =>
      (0 to s.length - p.length).count(i => s.regionMatches(i, p, 0, p.length))
    }.sum
    // classic suffix-sharing set + overlapping self-match
    val ac1 = new AhoCorasick(Seq("he", "she", "his", "hers"))
    for (s <- Seq("ushers", "shehehers", "", "xyz"))
      assert(ac1.countAll(s) == brute(s, Seq("he", "she", "his", "hers")), s)
    val ac2 = new AhoCorasick(Seq("aa"))
    assert(ac2.countAll("aaaa") == 3) // overlaps count
    // randomized cross-check over a small alphabet
    val rnd = new scala.util.Random(7)
    val pats = Seq("ab", "ba", "aab", "bb", "aba")
    val ac3 = new AhoCorasick(pats)
    (1 to 200).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(40))(if (rnd.nextBoolean()) 'a' else 'b').mkString
      assert(ac3.countAll(s) == brute(s, pats), s)
    }
    // the Column form agrees inside codegen
    import graft.plans.MultiSubstringCount
    val df = Seq((1L, "ushers she"), (2L, "nothing")).toDF("id", "t")
    val got = df.select($"id", MultiSubstringCount($"t", Seq("he", "she", "hers")))
      .as[(Long, Int)].collect().toMap
    assert(got(1L) == brute("ushers she", Seq("he", "she", "hers")))
    assert(got(2L) == 0)
  }

  test("qualityFilterChain: full-battery precedence, keep consistency, auditable verdicts") {
    import graft.functions.TextAnalysis
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val got = TextAnalysis.qualityFilterChain(docs, "doc_id", "text",
        blocklist = Seq("dup", "spill"), minWords = 20, maxWords = 90)
      .collect()
    assert(got.length == docs.count())
    // cross-check against the two independent audit tables: the chain's
    // battery verdict must agree with gopherRules × gopherRepetition,
    // and a battery pass can only fail on blocklist or classifier
    val a1 = TextAnalysis.gopherRules(docs, "doc_id", "text",
        minWords = 20, maxWords = 90)
      .select("doc_id", "gopher_keep")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val a2 = TextAnalysis.gopherRepetition(docs, "doc_id", "text")
      .select("doc_id", "repetition_keep")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val batteryRules = Set("word_count", "mean_word_len", "symbol_ratio",
      "bullet_lines", "ellipsis_lines", "alpha_words", "stopwords",
      "dup_lines", "dup_line_chars", "top_2gram")
    got.foreach { r =>
      val id = r.getLong(0)
      val (nb, score) = (r.getInt(1), r.getLong(2))
      val failed = Option(r.getString(3))
      val keep = r.getBoolean(4)
      assert(keep == failed.isEmpty)
      val batteryPass = a1(id) && a2(id)
      failed match {
        case Some(rule) if batteryRules(rule) =>
          assert(!batteryPass, s"doc $id failed $rule but audits pass")
        case Some("blocklisted") =>
          assert(batteryPass && nb > 0, s"doc $id")
        case Some("classifier") =>
          assert(batteryPass && nb == 0 && score < 0, s"doc $id")
        case Some(other) => fail(s"doc $id: unknown verdict $other")
        case None =>
          assert(batteryPass && nb == 0 && score >= 0, s"doc $id")
      }
    }
    // the fixture exercises several rules and keeps a nonempty remainder
    val verdicts = got.flatMap(r => Option(r.getString(3))).distinct
    assert(verdicts.length >= 3, verdicts.mkString(","))
    assert(got.exists(_.getBoolean(4)))
  }

  test("gopherRules: every metric exact on a hand fixture; keep = the conjunction") {
    import graft.functions.TextAnalysis
    val docs = Seq(
      // 22 words incl. 'the' x2 and 'a': passes every rule
      (1L, ("the quick brown fox jumps over the lazy dog near a river " +
        "bank today with calm wind and clear light all morning")),
      // bullet + ellipsis lines, symbols, too short
      (2L, "- item one...\n- item two\nplain tail #tag ..."),
      (3L, "a a a")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text",
        minWords = 20, maxWords = 90)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getBoolean(8)))).toMap
    val (n1, m1, sy1, bu1, el1, al1, st1, k1) = out(1L)
    // stopword OCCURRENCES: the x2 + a + with + and = 5
    assert(n1 == 22 && sy1 == 0 && bu1 == 0 && el1 == 0 &&
      al1 == 1000000L && st1 == 5 && k1, out(1L).toString)
    // mean word len: sum of lengths * 1e6 div 22
    val sum1 = ("the quick brown fox jumps over the lazy dog near a river " +
      "bank today with calm wind and clear light all morning")
      .split(" ").map(_.length.toLong).sum
    assert(m1 == sum1 * 1000000L / 22)
    // doc 2: 3 lines; words split on SPACE so lines ride inside tokens.
    // bullets: lines 1-2 start '-'; ellipsis-enders: lines 1 and 3;
    // symbols: one '#' and two '...' occurrences
    val (n2, _, sy2, bu2, el2, _, _, k2) = out(2L)
    assert(bu2 == 2000000L / 3 && el2 == 2000000L / 3, out(2L).toString)
    assert(sy2 == (1L + 2L) * 1000000L / n2 && !k2)
    // doc 3: too short, mean len 1 -> fails several rules
    assert(!out(3L)._8)
    // DEFAULTS are the paper's (Rae et al. 2021 Table A1): 50..100,000
    // words — the 22-word doc 1 now fails on word count ALONE (every
    // other metric passes, as asserted above with fixture bounds)
    val defRow = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .filter($"doc_id" === 1L).head()
    assert(!defRow.getBoolean(8))
  }

  test("gopherRepetition: duplicate-line and top-2gram censuses exact on a hand fixture") {
    import graft.functions.TextAnalysis
    val docs = Seq(
      // 4 lines, "x y" twice (4 chars each of 13 line chars);
      // top 2-gram: grams of the WHOLE text (lines ride inside tokens)
      (1L, "x y\nx y\nab cd\nq"),
      // no newlines, "a b" gram repeated with overlap: "a b a b a":
      // grams: (a b)(b a)(a b)(b a) -> top = 2 * 3 = 6 of 9 chars
      (2L, "a b a b a"),
      (3L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // doc 1: 4 lines, 2 duplicates? dup lines = nl - distinct = 4-3 = 1;
    // chars in lines occurring >=2: both "x y" copies = 6 of 3+3+5+1=12
    assert(out(1L)._1 == 1000000L / 4 && out(1L)._2 == 6000000L / 12,
      out(1L).toString)
    // doc 2: single line, no dups -> 0/0; top 2-gram coverage 6 of 9
    assert(out(2L) == ((0L, 0L, 6000000L / 9, false)), out(2L).toString)
    // doc 3: one line, one token -> all zeros, keep
    assert(out(3L) == ((0L, 0L, 0L, true)), out(3L).toString)
  }

  test("gopherRepetition: a jumbo document (100k words, 20k lines) is no straggler — sorted-run censuses stay loglinear") {
    import graft.functions.TextAnalysis
    // 20k lines of 5 words each; every line text repeats exactly twice
    // (i and i+10000 share text), so ALL line chars are duplicate chars;
    // the dominant 2-gram is the within-line ("w<k> w<k+1>") pair family
    // — compute the expected winner exactly below. Under the old
    // per-element filter census this is ~10^10 row-local comparisons
    // (minutes-to-hours for ONE task); the sorted fold finishes with the
    // suite.
    val lines = (0 until 20000).map { i =>
      val k = i % 10000
      s"w${k}a w${k}b w${k}c w${k}d w${k}e"
    }
    val text = lines.mkString("\n")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRepetition(docs, "doc_id", "text").head()
    // every line occurs exactly twice -> dup lines = 20000 - 10000
    assert(r.getLong(1) == 10000L * 1000000L / 20000L, r.toString)
    // all chars sit inside duplicated lines
    assert(r.getLong(2) == 1000000L, r.toString)
    // top 2-gram: within-line grams ("w<k>a w<k>b" etc.) occur 2x each;
    // cross-line grams ("w<k>e\nw<k+1>a" rides inside ONE split-on-space
    // token pair) also 2x at most — winner = max over grams of
    // 2 * len(gram); verify against a brute-force census in Scala
    val words = text.split(" ")
    val grams = words.sliding(2).map(_.mkString(" ")).toSeq
    val top = grams.groupBy(identity).map { case (g, o) =>
      o.size.toLong * g.length }.max
    assert(r.getLong(3) == top * 1000000L / text.length, r.toString)
  }

  test("Gopher battery core: one row per rule fails exactly that rule in all three verdicts") {
    import graft.functions.TextAnalysis
    val (l1, l2, l3) = ("the river runs past old stone walls",
      "and a quiet garden where children play",
      "with bright kites under summer skies")
    val base = s"$l1 $l2 $l3" // 20 words, 4 stopwords: passes every rule
    val noStop = "river runs past old stone walls near quiet garden " +
      "where children play bright kites under summer skies"
    val hashed = "#river #runs #past"
    // (doc text, the rule it fails) with 10..30-word bounds and the
    // paper's other thresholds; the table's order is the paper's
    val rows = Seq(
      base -> None,
      s"$base fresh cold water flows down green hills toward distant " +
        "blue ocean shores" -> Some("word_count"),
      "a to of be we us it is on at no so go do up me he an or my" ->
        Some("mean_word_len"),
      base.replace("river runs past", hashed) -> Some("symbol_ratio"),
      Seq(l1, l2, l3).map("- " + _).mkString("\n") -> Some("bullet_lines"),
      s"$l1…\n$l2…\n$l3" -> Some("ellipsis_lines"),
      s"$base 1984 2001 3000 4500 5150 6060" -> Some("alpha_words"),
      noStop -> Some("stopwords"),
      s"$base\nok\nok\nok\nok" -> Some("dup_lines"),
      Seq(l1, l2, l3, "near the tall old oak trees",
        "near the tall old oak trees").mkString("\n") -> Some("dup_line_chars"),
      s"$base summer skies summer skies summer skies" -> Some("top_2gram"),
      // fails symbol_ratio AND stopwords: the chain names the earlier one
      noStop.replace("river runs past", hashed) -> Some("symbol_ratio"))
    val docs = rows.zipWithIndex.map { case ((t, _), i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // (rule, metric, min, max) — the battery's table under these bounds
    val table = Seq(("word_count", "n_words", 10L, 30L),
      ("mean_word_len", "mean_word_len_ppm", 3000000L, 10000000L),
      ("symbol_ratio", "symbol_ratio_ppm", Long.MinValue, 100000L),
      ("bullet_lines", "bullet_line_ppm", Long.MinValue, 900000L),
      ("ellipsis_lines", "ellipsis_line_ppm", Long.MinValue, 300000L),
      ("alpha_words", "alpha_word_ppm", 800000L, Long.MaxValue),
      ("stopwords", "n_stopwords", 2L, Long.MaxValue),
      ("dup_lines", "dup_line_ppm", Long.MinValue, 300000L),
      ("dup_line_chars", "dup_line_char_ppm", Long.MinValue, 200000L),
      ("top_2gram", "top_2gram_char_ppm", Long.MinValue, 200000L))
    val a1 = TextAnalysis.gopherRules(docs, "doc_id", "text",
      minWords = 10, maxWords = 30).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val a2 = TextAnalysis.gopherRepetition(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val chain = TextAnalysis.gopherChain(docs, "doc_id", "text",
        minWords = 10, maxWords = 30).collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), r.getBoolean(2))).toMap
    rows.zipWithIndex.foreach { case ((_, want), i) =>
      val id = i.toLong
      val crossed = table.filter { case (_, m, lo, hi) =>
        val v = (if (a1(id).schema.fieldNames.contains(m)) a1(id) else a2(id))
          .getAs[Long](m)
        v < lo || v > hi
      }.map(_._1)
      assert(chain(id) == ((want, want.isEmpty)), s"row $i: ${chain(id)}")
      assert(crossed.headOption == want, s"row $i crosses $crossed")
      if (i < rows.size - 1) assert(crossed.size <= 1, s"row $i crosses $crossed")
      else assert(crossed == Seq("symbol_ratio", "stopwords"), crossed)
      val a1Fails = crossed.exists(r => table.indexWhere(_._1 == r) < 7)
      assert(a1(id).getAs[Boolean]("gopher_keep") == !a1Fails, s"row $i")
      assert(a2(id).getAs[Boolean]("repetition_keep") ==
        !crossed.exists(r => table.indexWhere(_._1 == r) >= 7), s"row $i")
    }
  }

  test("prCurve: confusion counts partition the corpus at every threshold; monotone recall") {
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val scored = Classifier.linearScore(docs, "doc_id", "text", dim = 64,
        keep = Seq("lang"))
      .withColumn("y", $"lang" === "en")
    val n = scored.count()
    val rows = Classifier.prCurve(scored, "score_micronats", "y",
        Seq(-200000L, 0L, 200000L))
      .orderBy("threshold")
      .select("threshold", "tp", "fp", "fn", "tn", "recall")
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) == n)
    }
    // raising the threshold can only lose positives -> recall non-increasing
    val recalls = rows.map(_.getDouble(5))
    assert(recalls.zip(recalls.tail).forall { case (lo, hi) => lo >= hi })
  }

  test("calibrationBins: hand fixture — shifted truncating bins, exact " +
    "pos-rate ppm, bin support sums to n") {
    val scored = Seq(
      (-150000L, true), (-50000L, false), (10000L, true), (190000L, true),
      (210000L, false), (250000L, true))
      .toDF("s", "y")
    val got = Classifier.calibrationBins(scored, "s", "y",
        binWidth = 200000L, lo = -1000000L)
      .orderBy("bin")
      .select("bin", "n", "n_pos", "pos_rate_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // bins: (-150000+1e6)/2e5=4 ; (-50000+1e6)/2e5=4 ; 10000->5 ;
    // 190000->5 ; 210000->6 ; 250000->6
    assert(got == Seq((4L, 2L, 1L, 500000L), (5L, 2L, 2L, 1000000L),
      (6L, 2L, 1L, 500000L)))
  }

  test("boilerplateNgrams: a planted shared template tops the census by " +
    "document frequency; short docs contribute nothing") {
    import graft.functions.TextAnalysis
    val footer = "c one two three d"
    val docs = Seq(
      (1L, "alpha beta " + footer), (2L, "gamma " + footer + " delta"),
      (3L, footer), (4L, "unrelated words only here now"), (5L, "tiny doc"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateNgrams(docs, "doc_id", "text",
        n = 5, topK = 3)
      .as[(String, Long, Long)].collect()
    assert(got.head == ((footer, 3L, 3L)), got.head.toString)
    // doc 5 (2 tokens < n) contributes no grams anywhere
    assert(got.forall(_._2 <= 3L))
  }

  test("spanCorruptCensus: census invariants hold corpus-wide and the " +
    "masking is deterministic") {
    import graft.functions.TextAnalysis
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001).limit(300)
    val a = TextAnalysis.spanCorruptCensus(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val b = TextAnalysis.spanCorruptCensus(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(a.sameElements(b), "deterministic across runs")
    a.foreach { case (id, nTok, nStarts, nMasked, nRuns, packed) =>
      // every start masks itself, a span covers at most 3 tokens, runs
      // merge overlaps, and the packed length collapses each run to one
      // sentinel
      assert(nMasked >= nStarts && nMasked <= 3 * nStarts, s"doc $id")
      assert(nRuns <= nStarts, s"doc $id")
      assert(nStarts == 0 || nRuns >= 1, s"doc $id")
      assert(packed == nTok - nMasked + nRuns, s"doc $id")
      assert(nMasked <= nTok, s"doc $id")
    }
    // ~5% start rate: corpus-wide starts within a loose band of 1/20
    val starts = a.map(_._3).sum.toDouble
    val toks = a.map(_._2).sum.toDouble
    assert(starts / toks > 0.02 && starts / toks < 0.10,
      s"start rate ${starts / toks}")
  }

  test("secretScan: pattern classes, entropy detector, and scrub on a hand fixture") {
    import graft.functions.TextClean
    val awsKey = "AKIA" + "ABCD1234EFGH5678" // 20 chars, matches AKIA class
    val jwt = "eyJhbGciOiJIUzI1NiJ9.payload" // eyJ prefix, > 20 token chars
    val hex40 = "a" * 4 + "0123456789abcdef0123456789abcdef0123" // 40 hex
    val highEnt = "Zq3Xw9Lp2Mn7Rt5Vk8Jd" // 20 chars, all distinct -> ln(20)
    val docs = Seq(
      (1L, s"normal words then $awsKey appears"),
      (2L, s"token $jwt and blob $hex40"),
      (3L, s"entropy bomb $highEnt here"),
      (4L, "just plain low entropy words")).toDF("doc_id", "text")
    val out = TextClean.secretScan(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5),
          r.getLong(6)))).toMap
    // (n_secret, n_aws, n_jwt, n_hex40, n_high_entropy, max_entropy)
    assert(out(1L)._2 == 1 && out(1L)._1 == 1)
    assert(out(2L)._3 == 1 && out(2L)._4 == 1 && out(2L)._1 == 2)
    // 20 distinct chars: entropy exactly ln(20) micronats, clears 2.3
    val ln20 = math.floor(math.log(20.0) * 1e6 + 0.5).toLong
    assert(out(3L)._5 == 1 && out(3L)._6 == ln20)
    assert(out(4L)._1 == 0 && out(4L)._5 == 0)
    // the scrub replaces exactly the flagged tokens
    val scrubbed = TextClean.secretScan(docs, "doc_id", "text")
      .filter($"doc_id" === 2L).select("scrubbed_md5").head().getString(0)
    val expect = docs.filter($"doc_id" === 2L)
      .select(md5(lit("token [SECRET] and blob [SECRET]"))).head().getString(0)
    assert(scrubbed == expect)
  }

  test("TokenEntropy native expression == the HOF quantize-then-sum formula, element-for-element") {
    // the round-11 codegen'd replacement must be BIT-exact to the HOF
    // chain it superseded (same Math.log, quantization, division) —
    // replay the original formula and compare on edge-heavy tokens:
    // empty (NULL through pmod-by-zero), single char, all-same, all-
    // distinct, hex blobs, non-ASCII, symbol-only
    val toks = Seq("", "a", "aa", "ab", "Zq3Xw9Lp2Mn7Rt5Vk8Jd",
      "aaaaaaaaaabbbbbbbbbb", "0123456789abcdef0123456789abcdef01234567",
      "äöüßäöü", "==--__++//",
      "eyJhbGciOiJIUzI1NiJ9.payload")
    val df = toks.toDF("tok")
    def qln(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(log(c.cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    val chars = split($"tok", "")
    val counts = transform(array_distinct(chars),
      d => size(filter(chars, c => c === d)).cast("long"))
    val s = aggregate(counts, lit(0L), (acc, n) => acc + n * qln(n))
    val len = length($"tok").cast("long")
    val hof = qln(len) - ((s - pmod(s, len)) / len).cast("long")
    val rows = df.select(graft.plans.TokenEntropy($"tok").as("native"),
      hof.as("hof")).collect()
    rows.zip(toks).foreach { case (r, t) =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch on '$t'")
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1),
        s"'$t': native ${r.getLong(0)} != hof ${r.getLong(1)}")
    }
  }

  test("LinearScore native expression == HOF scoreExpr(featuresExpr) with the default table") {
    // edge-heavy token arrays: empty text ([''] after split), single
    // token, two tokens (first bigram), repeats, unicode, long docs
    val texts = Seq("", "solo", "a b", "a a a a", "the quick brown fox",
      "äöü ß tokens mixed", ("x " * 50).trim)
    val df = texts.toDF("text")
      .select(split(col("text"), " ").as("toks"))
    val rows = df.select(
      graft.plans.LinearScore(col("toks"), 64).as("native"),
      Classifier.scoreExpr(Classifier.featuresExpr(col("toks")), 64)
        .as("hof")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getLong(0) == r.getLong(1),
        s"'$t': native ${r.getLong(0)} != hof ${r.getLong(1)}")
    }
    // and the precomputed weight table equals the column-expression table
    val wantW = spark.range(64)
      .select(Classifier.hashWeight(col("id").cast("int"))).as[Long]
      .collect()
    assert(graft.plans.LinearScore.weights(64).toSeq == wantW.toSeq)
  }

  test("secretScan: empty tokens (empty text, consecutive spaces) are non-secret, NULL entropy, scrub-preserved") {
    import graft.functions.TextClean
    // the oracle's LEFT-join seat: '' has no characters, so it must be
    // classified non-secret, contribute NULL (ignored) to the entropy
    // max, and pass through the scrub verbatim on BOTH engines
    val docs = Seq(
      (1L, ""),                       // one '' token
      (2L, "a  b"),                   // '' between consecutive spaces
      (3L, "plain words")).toDF("doc_id", "text")
    val rows = TextClean.secretScan(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val e1 = rows(0)
    assert(e1.getInt(1) == 0 && e1.getInt(5) == 0)
    assert(e1.isNullAt(6), "empty text must yield NULL max entropy")
    assert(e1.getString(7) ==
      docs.sparkSession.range(1).select(md5(lit(""))).head().getString(0))
    val e2 = rows(1)
    assert(e2.getInt(1) == 0 && !e2.isNullAt(6))
    assert(e2.getString(7) ==
      docs.sparkSession.range(1).select(md5(lit("a  b"))).head().getString(0),
      "scrub must preserve the '' token (double space) verbatim")
  }

  test("fimTransform: cut invariants, passthrough carve-out, and the exact PSM hash") {
    import graft.functions.Packing
    val docs = Seq((1L, "one"), (2L, "a b"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text")
    val out = Packing.fimTransform(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5),
          r.getString(6)))).toMap
    // 1-token doc: passthrough, md5 of the original text
    assert(out(1L)._1 == 1 && out(1L)._2 == 0 &&
      out(1L)._6 == docs.sparkSession.range(1)
        .select(md5(lit("one"))).head().getString(0))
    // applied docs: nonempty prefix and middle, lens partition n
    Seq(2L, 3L).foreach { id =>
      val (n, applied, p, m, s, _) = out(id)
      assert(applied == 1 && p >= 1 && m >= 1 && s >= 0 && p + m + s == n)
    }
    // replicate the seeded cuts in plain JVM md5 and pin the exact PSM
    def slice32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(24, 32), 16)
    }
    val toks = "w1 w2 w3 w4 w5 w6 w7 w8".split(" ")
    val n = toks.length.toLong
    val cut1 = (slice32("fim42#|1|3") % (n - 1) + 1).toInt
    val cut2 = (cut1 + 1 + slice32("fim42#|2|3") % (n - cut1)).toInt
    val psm = toks.take(cut1).mkString(" ") + " <SUF> " +
      toks.drop(cut2).mkString(" ") + " <MID> " +
      toks.slice(cut1, cut2).mkString(" ")
    val expect = docs.sparkSession.range(1)
      .select(md5(lit(psm))).head().getString(0)
    assert(out(3L)._6 == expect, s"cut1=$cut1 cut2=$cut2 psm='$psm'")
    assert(out(3L)._3 == cut1 && out(3L)._4 == cut2 - cut1)
  }

  test("c4Clean: line retention rules, sentence census, page verdicts") {
    import graft.functions.TextClean
    val docs = Seq(
      // 7 kept lines (terminal punct, >=5 words — the paper's default —
      // no 'javascript'), 1 dropped for punct, 1 dropped short (4 words
      // < 5), 1 dropped substring
      (1L, Seq("one two three four five.",
        "six seven eight nine ten eleven!",
        "does this line have five words?",
        "ten eleven \"twelve thirteen fourteen.\"",
        "unterminated line here with words",
        "four words too short.", "contains javascript code right here.",
        "alpha beta gamma delta epsilon.", "zeta eta theta iota kappa.",
        "lambda mu nu xi omicron.").mkString("\n")),
      // page rules: enough sentences but lorem ipsum
      (2L, Seq.fill(6)("lorem ipsum filler words here.").mkString("\n")),
      // page rules: brace ('{' counts as a word — 5 words, line kept)
      (3L, Seq.fill(6)("some code { inline words.").mkString("\n")),
      // too few sentences after cleaning (1 < minSentences=3)
      (4L, "just one kept line here.\nnope\nnah")).toDF("doc_id", "text")
    val out = TextClean.c4Clean(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    val (nl1, nk1, clean1, ns1, lo1, br1, keep1) = out(1L)
    assert(nl1 == 10 && nk1 == 7, "kept = terminal+5words+no-substring")
    assert(!clean1.contains("unterminated") && !clean1.contains("short") &&
      !clean1.contains("javascript"))
    // sentences = [.!?] census over kept lines: 7 kept lines, one of
    // which ('fourteen.\"') carries its period before the closing quote
    assert(ns1 == 7 && !lo1 && !br1 && keep1)
    assert(!out(2L)._7 && out(2L)._5, "lorem ipsum page dropped")
    assert(!out(3L)._7 && out(3L)._6, "brace page dropped")
    assert(out(4L)._2 == 1 && out(4L)._4 == 1 && !out(4L)._7,
      "a 1-sentence page fails the >=3-sentence rule")
  }

  test("c4Chain: rule precedence, badwords on cleaned text, keep-first three-span dedup") {
    import graft.functions.TextClean
    val h = Seq("alpha beta gamma delta one.", "alpha beta gamma delta two.",
      "alpha beta gamma delta three.", "alpha beta gamma delta four.")
    val docs = Seq(
      // doc 1 owns the first occurrence of every shared header span
      (1L, (h ++ Seq("unique tail line for one.",
        "second unique line for one.")).mkString("\n")),
      // doc 2 repeats the header: its 4 header lines must be stripped
      (2L, (h ++ Seq("unique tail line for two.",
        "second unique line for two.")).mkString("\n")),
      // header-free page: untouched by the span dedup
      (3L, Seq("fully original page line one.",
        "fully original page line two.",
        "fully original page line three.").mkString("\n")),
      // too few sentences after cleaning
      (4L, "just one kept line here.\nnope"),
      // badwords fires on the CLEANED text
      (5L, Seq("this page mentions badword clearly today.",
        "more perfectly ordinary words follow here.",
        "and a third full sentence lands.").mkString("\n")),
      // precedence: lorem_ipsum outranks badwords
      (6L, Seq.fill(3)("lorem ipsum badword filler here.").mkString("\n")))
      .toDF("doc_id", "text")
    val out = TextClean.c4Chain(docs, "doc_id", "text",
        blocklist = Seq("badword"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(5)), r.getInt(6), Option(r.getString(7)),
          r.getBoolean(8)))).toMap
    // kept pages
    assert(out(1L) == ((None, 0,
      Some((h ++ Seq("unique tail line for one.",
        "second unique line for one.")).mkString("\n")), true)),
      out(1L).toString)
    assert(out(2L) == ((None, 4,
      Some(Seq("unique tail line for two.",
        "second unique line for two.").mkString("\n")), true)),
      out(2L).toString)
    assert(out(3L)._2 == 0 && out(3L)._4 &&
      out(3L)._3.get.startsWith("fully original"))
    // failed pages: first-failure labels, no final text
    assert(out(4L) == ((Some("too_few_sentences"), 0, None, false)))
    assert(out(5L) == ((Some("badwords"), 0, None, false)))
    assert(out(6L) == ((Some("lorem_ipsum"), 0, None, false)),
      "lorem_ipsum outranks badwords in the documented precedence")
  }

  test("c4Chain: first occurrence's lines survive overlapping same-span dups") {
    import graft.functions.TextClean
    // a page of 6 identical kept lines: spans (1,2,3)..(4,5,6) all share
    // one hash; the first occurrence is (doc 1, pos 1) and its covered
    // lines 1-3 are protected — the page retains exactly 3 lines, not 1
    val line = "alpha beta gamma delta repeated."
    val docs = Seq(
      (1L, Seq.fill(6)(line).mkString("\n")),
      // a later page of the same line: ALL its lines removed (every
      // occurrence is non-first and none is protected there)
      (2L, (Seq.fill(4)(line) ++ Seq("unique closing line for two.",
        "second unique closing line two.",
        "third unique closing line two.")).mkString("\n")))
      .toDF("doc_id", "text")
    val out = TextClean.c4Chain(docs, "doc_id", "text", blocklist = Nil)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(6), Option(r.getString(7))))).toMap
    assert(out(1L) == ((3, Some(Seq.fill(3)(line).mkString("\n")))),
      out(1L).toString)
    assert(out(2L) == ((4, Some(Seq("unique closing line for two.",
      "second unique closing line two.",
      "third unique closing line two.").mkString("\n")))),
      out(2L).toString)
  }

  test("c4Chain: first_failed folds over ALL dropDocSubstrings (1 and 3 rules)") {
    import graft.functions.TextClean
    val docs = Seq(
      (1L, Seq("clean page line number one.", "clean page line number two.",
        "clean page line number three.").mkString("\n")),
      (2L, Seq("this page has placeholder text.", "more full lines follow here.",
        "and a third sentence lands.").mkString("\n")),
      (3L, Seq("this page says cookie policy.", "more full lines follow here.",
        "and a third sentence lands.").mkString("\n")))
      .toDF("doc_id", "text")
    // 3-rule list: the 3rd rule must label, not silently pass
    val out3 = TextClean.c4Chain(docs, "doc_id", "text", blocklist = Nil,
        dropDocSubstrings = Seq("placeholder", "{", "cookie policy"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(5))).toMap
    assert(out3(1L).isEmpty && out3(2L) == Some("placeholder") &&
      out3(3L) == Some("cookie_policy"), out3.toString)
    // 1-rule list: no phantom brace-flag reference
    val out1 = TextClean.c4Chain(docs, "doc_id", "text", blocklist = Nil,
        dropDocSubstrings = Seq("cookie policy"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(5))).toMap
    assert(out1(1L).isEmpty && out1(2L).isEmpty &&
      out1(3L) == Some("cookie_policy"), out1.toString)
  }
}
