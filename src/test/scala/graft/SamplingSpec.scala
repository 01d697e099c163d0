package graft

import graft.functions.Sampling
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic hash sampling: nesting, rate accuracy, stability. */
class SamplingSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def keys = spark.range(20000).select($"id".cast("string").as("k"))
    .withColumn("stratum", lit("s"))

  test("hash thresholds nest: raising a rate keeps the old sample as subset") {
    def sample(rate: Double) = Sampling.stratifiedSample(
      keys.toDF(), "k", "stratum", Map.empty, rate)
      .select("k").as[String].collect().toSet
    val s25 = sample(0.25)
    val s50 = sample(0.50)
    assert(s25.subsetOf(s50))
    assert(s25.nonEmpty && s50.size > s25.size)
  }

  test("sample fraction tracks the configured rate (uniform hash)") {
    val n = keys.count().toDouble
    val got = Sampling.stratifiedSample(keys.toDF(), "k", "stratum",
      Map.empty, 0.3).count() / n
    // binomial sd at n=20k, p=0.3 is ~0.0032 -> ±0.02 is >6 sigma
    assert(math.abs(got - 0.3) < 0.02, s"sampled fraction $got")
  }

  test("reservoirPerKey (two-stage bottom-k) matches the one-pass window form exactly") {
    import org.apache.spark.sql.expressions.Window
    // repartition so the PARTIAL stage genuinely prunes across partitions
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001).repartition(8)
    val got = Sampling.reservoirPerKey(docs, "doc_id", "lang", 5)
      .select("lang", "sample_rank", "doc_id")
      .as[(String, Int, Long)].collect().toSet
    val w = Window.partitionBy($"lang")
      .orderBy(Sampling.hashSlice32($"doc_id").asc, $"doc_id".asc)
    val want = docs.withColumn("sample_rank", row_number().over(w))
      .filter($"sample_rank" <= 5)
      .select("lang", "sample_rank", "doc_id")
      .as[(String, Int, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("splitAssign: exhaustive, disjoint, ~weighted, append-stable") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val assigned = keys.toDF().select($"k",
      Sampling.splitAssign($"k", splits).as("split"))
    val byS = assigned.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(byS.keySet == Set("train", "val", "test")) // exhaustive + disjoint
    val n = 20000.0
    assert(math.abs(byS("train") / n - 0.8) < 0.02)
    assert(math.abs(byS("val") / n - 0.1) < 0.01)
    // append stability: assignment over a subset is the restriction of the
    // assignment over the whole — a record's split never changes
    val subset = keys.toDF().filter($"k".cast("long") < 1000)
      .select($"k", Sampling.splitAssign($"k", splits).as("split"))
      .as[(String, String)].collect().toMap
    val full = assigned.filter($"k".cast("long") < 1000)
      .as[(String, String)].collect().toMap
    assert(subset == full)
  }

  test("rebalanceMixture: output tracks the target mixture, drops unweighted strata") {
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val weights = Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.125, "fr" -> 0.125)
    val out = Sampling.rebalanceMixture(docs, "doc_id", "lang", weights)
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(!byLang.contains("zh")) // unweighted stratum dropped
    // the binding stratum (min count/weight) is kept whole, so its share
    // anchors the mixture; other strata are hash-thinned toward their
    // weight — at 500 docs the binomial noise is ~±10%, so assert ordering
    // and bounds rather than exact shares
    val n = byLang.values.sum.toDouble
    val shares = weights.keys.map(l => l -> byLang.getOrElse(l, 0L) / n).toMap
    assert(shares("en") > shares("es") && shares("es") > shares("de"))
    assert(math.abs(shares("en") - 0.5) < 0.15, s"en share ${shares("en")}")
    // membership is a subset of the input and deterministic across runs
    val ids1 = out.select("doc_id").as[Long].collect().toSet
    val ids2 = Sampling.rebalanceMixture(docs, "doc_id", "lang", weights)
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
    // nesting: a stratum's kept set is a subset of that stratum's rows
    val enAll = docs.filter($"lang" === "en").select("doc_id")
      .as[Long].collect().toSet
    val enKept = out.filter($"lang" === "en").select("doc_id")
      .as[Long].collect().toSet
    assert(enKept.subsetOf(enAll))
  }

  test("budgetTrim (bucketed cumsum) matches the one-pass global-window form exactly") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.functions.TextAnalysis
      .qualityMetrics(Tables.documents(spark, GraftTestSpark.Sf0001))
      .withColumn("q", graft.functions.TextAnalysis.qualityScore())
      .repartition(8) // so buckets genuinely span partitions
    def collectTrim(buckets: Int) =
      Sampling.budgetTrim(docs, "doc_id", "q", "n_tokens", 5000L,
          buckets = buckets)
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
    val got = collectTrim(16)
    val w = Window.orderBy($"q".desc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = docs
      .withColumn("cum_tokens", sum($"n_tokens".cast("long")).over(w))
      .filter($"cum_tokens" <= 5000L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
    // bucket count is a pure performance knob — results are identical
    assert(collectTrim(4) == got && collectTrim(64) == got)
  }

  test("perplexity: common-token docs score head, rare-token docs tail; micronats match Math.log") {
    import graft.functions.TextAnalysis
    // 20 docs of corpus-common tokens, 2 of singleton tokens: the common
    // docs must have strictly lower mean surprisal and land in 'head',
    // the rare docs in 'tail' (cutoffs are corpus-relative)
    val common = (1L to 20L).map(i => (i, "the cat sat on the mat"))
    val rare = Seq((21L, "zyx wvu tsr qpo nml kji"), (22L, "abc bcd cde def efg fgh"))
    val docs = (common ++ rare).toDF("doc_id", "text")
    val out = TextAnalysis.perplexity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L)._3 == "head")
    assert(out(21L)._3 == "tail" && out(22L)._3 == "tail")
    // recompute doc 21's logprob independently: 6 singleton tokens,
    // p = (1+1)/(N+V), N = 20*6 + 12 tokens, V = distinct tokens
    val n = 20 * 6 + 12
    val v = docs.selectExpr("explode(split(text, ' ')) t").distinct().count()
    val m = math.floor(math.log(2.0 / (n + v)) * 1e6 + 0.5).toLong
    assert(out(21L)._2 == 6 * m)
    assert(out(21L)._1 == 6)
  }

  test("perplexityBigram: scrambled word order lands in tail where unigram cannot tell") {
    import graft.functions.TextAnalysis
    // scrambled docs reuse EXACTLY the fluent docs' token multiset, so the
    // unigram model scores them identically; only the conditional model
    // sees the broken transitions
    val fluent = (1L to 20L).map(i => (i, "the cat sat on the mat"))
    val scrambled = Seq((21L, "mat the on sat cat the"), (22L, "on mat the cat the sat"))
    val docs = (fluent ++ scrambled).toDF("doc_id", "text")
    val uni = TextAnalysis.perplexity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(uni(21L)._1 == uni(1L)._1) // same token multiset => same unigram logprob
    assert(uni(21L)._2 == uni(1L)._2)
    val bi = TextAnalysis.perplexityBigram(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(bi(1L)._2 == "head")
    assert(bi(21L)._2 == "tail" && bi(22L)._2 == "tail")
    assert(bi(21L)._1 < bi(1L)._1) // strictly less probable transitions
  }

  test("perplexityKneserNey: hand-computed continuation counts on a 2-doc fixture") {
    import graft.functions.TextAnalysis
    // docs: "a b a b" and "b a" — transitions (a,b)x2, (b,a)x2.
    // bigram types: (a,b) bc=2, (b,a) bc=2; ctx a: cc=2 fol=1, b: cc=2
    // fol=1; pre b: 1, a: 1; nb=2. Both transitions score
    // p = (2-3/4)/2 + (3/4)(1/2)(1/2) = 13/16 exactly
    // (num = (4*2-3)*2 + 3*1*1 = 13, den = 4*2*2 = 16).
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityKneserNey(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    val m = math.floor(math.log(13.0 / 16.0) * 1e6 + 0.5).toLong
    assert(out(1L) == ((3, 3 * m, "head")))
    assert(out(2L) == ((1, m, "head")))
  }

  test("perplexityKneserNey: the continuation count (not raw frequency) drives backoff mass") {
    import graft.functions.TextAnalysis
    // (q1,x) and (q2,w) have IDENTICAL direct statistics (bc=1, cc=1,
    // fol=1) and differ only in how many distinct contexts their target
    // follows: pre(x)=5 vs pre(w)=1 — the defining KN quantity. With
    // nb=6 bigram types: p(x|q1) = (1*6 + 3*1*5)/(4*6) = 21/24,
    // p(w|q2) = (6 + 3)/(24) = 9/24.
    val docs = Seq((1L, "p x"), (2L, "r x"), (3L, "s x"), (4L, "t x"),
      (5L, "q1 x"), (6L, "q2 w")).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityKneserNey(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val mA = math.floor(math.log(21.0 / 24.0) * 1e6 + 0.5).toLong
    val mB = math.floor(math.log(9.0 / 24.0) * 1e6 + 0.5).toLong
    assert(out(5L) == mA && out(6L) == mB && mA > mB)
  }

  test("perplexityKneserNey3: hand-computed trigram continuation ladder") {
    import graft.functions.TextAnalysis
    // trigram types: (a,b,c) tc=2; (b,c,a), (c,a,b), (a,b,d) tc=1.
    // ctx2 (a,b): cc2=3 f12=2; (b,c)/(c,a): cc2=1 f12=1.
    // cont types all n1=1; mid b: m2=2 f2=2; a,c: m2=1 f2=1;
    // pre3=1 everywhere; nbp=4. Exact ratios:
    //   p(c|a,b) = 220/384 (= 5/4·1/3 + 3/4·2/3·(1/8 + 3/4·1/4))
    //   p(a|b,c) = p(b|c,a) = 37/64
    //   p(d|a,b) = 92/384
    // doc 3 is sub-trigram: zero transitions, zero logprob, head bucket
    val docs = Seq((1L, "a b c a b c"), (2L, "a b d"), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.perplexityKneserNey3(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    def m(num: Double, den: Double) =
      math.floor(math.log(num / den) * 1e6 + 0.5).toLong
    val lp1 = 2 * m(220, 384) + 2 * m(37, 64)
    val lp2 = m(92, 384)
    assert(out(1L)._1 == 4 && out(1L)._2 == lp1, out(1L).toString)
    assert(out(2L)._1 == 1 && out(2L)._2 == lp2, out(2L).toString)
    assert(out(3L) == ((0, 0L, "head")), out(3L).toString)
    // buckets replay the published cut rule (positive-value floor division)
    val slp = -(lp1 + lp2); val sn = 5L
    val hc = slp / sn; val tc = 102 * slp / (100 * sn)
    def bucket(lp: Long, nt: Long) =
      if (-lp <= nt * hc) "head" else if (-lp <= nt * tc) "middle" else "tail"
    assert(out(1L)._3 == bucket(lp1, 4) && out(2L)._3 == bucket(lp2, 1))
  }

  test("perplexityKneserNeyApply: pretrained LM, unseen events get continuation mass") {
    import graft.functions.TextAnalysis
    // TRAIN: "a b", "a b", "a c" -> bc (a,b)=2, (a,c)=1; ctx a: cc=3
    // fol=2; pre b=1, c=1; nb=2, vc=2 -> smoothing denom nbv=5.
    // APPLY "a b d": (a,b) seen -> p = 5/12 + (1/2)(2/5) = 37/60;
    //                (b,d) unseen context -> p = (0+1)/5 = 1/5.
    // APPLY "e": sub-bigram -> zeros.
    val train = Seq((0L, "a b"), (2L, "a b"), (4L, "a c")).toDF("doc_id", "text")
    val app = Seq((1L, "a b d"), (3L, "e")).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityKneserNeyApplyModel(
        TextAnalysis.knBigramTrain(train, "text"), app, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    def m(num: Double, den: Double) =
      math.floor(math.log(num / den) * 1e6 + 0.5).toLong
    assert(out(1L) == ((2, 1, m(37, 60) + m(1, 5))), out(1L).toString)
    assert(out(3L) == ((0, 0, 0L)), out(3L).toString)
  }

  test("mooreLewisSelect: cross-entropy difference on a hand fixture") {
    import graft.functions.TextAnalysis
    // GENERAL (the bigram-apply fixture): lp_gen("a b d") = m(37/60) +
    // m(1/5). DOMAIN trains on "a b" alone: bc(a,b)=1, cc=1, fol=1,
    // pre(b)=1, nb=1, vc=1 -> nbv=3; (a,b) -> 1/4 + (3/4)(2/3) = 3/4;
    // (b,d) unseen ctx -> (0+1)/3. Domain finds the doc easier ->
    // positive score, selected.
    val general = Seq((0L, "a b"), (2L, "a b"), (4L, "a c"))
      .toDF("doc_id", "text")
    val domain = Seq((0L, "a b")).toDF("doc_id", "text")
    val app = Seq((1L, "a b d"), (3L, "e")).toDF("doc_id", "text")
    val out = TextAnalysis.mooreLewisSelect(
        TextAnalysis.knBigramTrain(domain, "text"),
        TextAnalysis.knBigramTrain(general, "text"),
        app, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    def m(num: Double, den: Double) =
      math.floor(math.log(num / den) * 1e6 + 0.5).toLong
    val lpD = m(3, 4) + m(1, 3)
    val lpG = m(37, 60) + m(1, 5)
    assert(out(1L) == ((2, lpD, lpG, lpD - lpG, true)), out(1L).toString)
    assert(out(3L) == ((0, 0L, 0L, 0L, false)), out(3L).toString)
  }

  test("minKProbScore: k-cutoff, tie-break, and zero seats on a hand fixture") {
    import graft.functions.TextAnalysis
    // TRAIN "a b"x2 + "a c": bigram types (a,b) bc=2, (a,c) bc=1;
    // ctx(a) cc=3 fol=2; pre(b)=pre(c)=1; nb=2 vc=2 -> nbv=5.
    //   (a,b): (4*2-3)/(4*3) + (3*2)/(4*3) * (1+1)/5 = 37/60
    //   (a,c): (4*1-3)/12    + (6/12)(2/5)           = 17/60
    //   unseen cur with seen ctx (a,x): 0 + (1/2)(0+1)/5 = 1/10
    // APPLY "a b a c a x" transitions: (a,b) (b,a) (a,c) (c,a) (a,x):
    // (b,a)/(c,a) have unseen ctx -> p = (0+1)/5.
    val train = Seq((0L, "a b"), (2L, "a b"), (4L, "a c"))
      .toDF("doc_id", "text")
    val app = Seq((1L, "a b a c a x"), (3L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.minKProbScore(
        TextAnalysis.knBigramTrain(train, "text"), app,
        "doc_id", "text", kPct = 40)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    def m(num: Double, den: Double) =
      math.floor(math.log(num / den) * 1e6 + 0.5).toLong
    // per-transition logprobs: (a,b)=m(37/60), (b,a)=m(1/5),
    // (a,c)=m(17/60), (c,a)=m(1/5), (a,x)=m(1/10). n=5, k=40% ->
    // nl=ceil(2.0)=2; two lowest = m(1/10) and ONE of the tied m(1/5)s
    // (tie broken by transition index: (b,a) at i=2 beats (c,a) at i=4)
    val expectSum = -(m(1, 10) + m(1, 5))
    assert(out(1L) == ((5, 2, expectSum, expectSum / 2)), out(1L).toString)
    // sub-bigram doc: all zeros
    assert(out(3L) == ((0, 0, 0L, 0L)), out(3L).toString)
  }

  test("doremiDomainWeights: hard domain upweights; ppm weights on a hand fixture") {
    import graft.functions.TextAnalysis
    // reference LM trains on "a b" x2 + "a c" (see minK fixture for the
    // type tables). Corpus: domain EASY = "a b" (the memorized text),
    // domain HARD = "a x a y" (unseen continuations).
    val train = Seq((0L, "a b"), (2L, "a b"), (4L, "a c"))
      .toDF("doc_id", "text")
    val corpus = Seq(("easy", "a b"), ("hard", "a x a y"))
      .toDF("lang", "text")
    val out = TextAnalysis.doremiDomainWeights(
        TextAnalysis.knBigramTrain(train, "text"), corpus, "lang", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def m(num: Double, den: Double) =
      math.floor(math.log(num / den) * 1e6 + 0.5).toLong
    // easy: one transition (a,b) -> nll = -m(37/60). hard: (a,x) seen
    // ctx unseen cur -> -m(1/10); (x,a) unseen ctx -> -m(1/5); (a,y)
    // -> -m(1/10). avg = toward-zero div.
    val nllEasy = -m(37, 60)
    val nllHard = -(m(1, 10) + m(1, 5) + m(1, 10))
    val avgEasy = nllEasy / 1
    val avgHard = nllHard / 3
    val global = (nllEasy + nllHard) / 4
    def e(x: Long) = math.floor(math.exp(x / 1e6) * 1e6 + 0.5).toLong
    val (eE, eH) = (e(avgEasy - global), e(avgHard - global))
    assert(out("easy") == ((1L, avgEasy, avgEasy - global,
      eE * 1000000L / (eE + eH))), out("easy").toString)
    assert(out("hard") == ((3L, avgHard, avgHard - global,
      eH * 1000000L / (eE + eH))), out("hard").toString)
    // the hard domain carries the larger weight; weights are ~1e6 total
    assert(out("hard")._4 > out("easy")._4)
    assert(out("hard")._4 + out("easy")._4 <= 1000000L)
  }

  test("perplexityKneserNey3Apply: every smoothing branch on a hand fixture") {
    import graft.functions.TextAnalysis
    // TRAIN "a b c", "a b d": tc=1 each; ctx2(a,b) cc2=2 f12=2;
    // cont (b,c)=(b,d)=1; mid b: m2=2 f2=2; pre3 c=d=1; nbp=2 vc3=2
    // -> NBV=5, p1(c)=2/5, p2(c|b)=17/40.
    // APPLY "a b c x b c" trigrams:
    //  (a,b,c) seen ctx     -> p = 1/8 + (3/8)(17/40)       = 71/160
    //  (b,c,x) unseen w2=c  -> p1(x) = 1/5     (m2(c)=0)
    //  (c,x,b) unseen w2=x  -> p1(b) = 1/5
    //  (x,b,c) unseen ctx, seen w2=b -> p2(c|b) = 17/40
    // unseen trigrams: 3.  APPLY "q r": sub-trigram -> zeros.
    val train = Seq((0L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val app = Seq((1L, "a b c x b c"), (3L, "q r")).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityKneserNey3ApplyModel(
        TextAnalysis.kn3Train(train, "text"), app, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    def m(num: Double, den: Double) =
      math.floor(math.log(num / den) * 1e6 + 0.5).toLong
    assert(out(1L) == ((4, 3, m(71, 160) + 2 * m(1, 5) + m(17, 40))),
      out(1L).toString)
    assert(out(3L) == ((0, 0, 0L)), out(3L).toString)
  }

  test("landed KN models: write + read back scores equal the in-memory model") {
    import graft.functions.TextAnalysis
    // the perplexityKneserNey3ApplyModel fixture: every smoothing branch
    // of both orders is exercised by the apply docs
    val train = Seq((0L, "a b c"), (2L, "a b d"), (4L, "a c")).toDF("doc_id", "text")
    val app = Seq((1L, "a b c x b c"), (3L, "a b d"), (5L, "q")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("kn-landed").toString
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val bi = TextAnalysis.knBigramTrain(train, "text")
    TextAnalysis.knBigramModelWrite(bi, s"$dir/bigram")
    val biBack = TextAnalysis.knBigramModelRead(spark, s"$dir/bigram")
    val biWant = scores(TextAnalysis.perplexityKneserNeyApplyModel(
      bi, app, "doc_id", "text"))
    assert(biWant.size == 3)
    assert(scores(TextAnalysis.perplexityKneserNeyApplyModel(
      biBack, app, "doc_id", "text")) == biWant)
    val tri = TextAnalysis.kn3Train(train, "text")
    TextAnalysis.kn3ModelWrite(tri, s"$dir/trigram")
    val triBack = TextAnalysis.kn3ModelRead(spark, s"$dir/trigram")
    val triWant = scores(TextAnalysis.perplexityKneserNey3ApplyModel(
      tri, app, "doc_id", "text"))
    assert(triWant.size == 3)
    assert(scores(TextAnalysis.perplexityKneserNey3ApplyModel(
      triBack, app, "doc_id", "text")) == triWant)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("unimaxBudgets: water-filling — caps bind smallest-first, slack flows upward") {
    // counts a=3, b=10, c=100; budget 30, epoch cap 2:
    //  a: fair 30/3=10, cap 6 -> 6 (cap), rem 24
    //  b: fair 24/2=12, cap 20 -> 12 (fair), rem 12
    //  c: fair 12/1=12, cap 200 -> 12 (fair)
    val docs = Seq(
      ("a", "t1 t2 t3"),
      ("b", ("w " * 10).trim),
      ("c", ("v " * 100).trim)).toDF("lang", "text")
    val out = Sampling.unimaxBudgets(docs, "lang", "text",
        totalBudget = 30L, maxEpochs = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("a") == ((3L, 6L, 2000000L)), out("a").toString)
    assert(out("b") == ((10L, 12L, 1200000L)), out("b").toString)
    assert(out("c") == ((100L, 12L, 120000L)), out("c").toString)
  }

  test("temperatureSample: T=1 reproduces the observed mixture (keeps ~everything)") {
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val total = docs.count()
    val kept = Sampling.temperatureSample(docs, "doc_id", "lang", 1.0).count()
    // T=1 target = observed mixture -> every rate is 1 up to one float ulp;
    // a 1-ulp-short threshold can drop at most the hash-max row per stratum
    assert(kept >= total - 5, s"kept $kept of $total")
  }

  test("temperatureSample: T=0.5 flattens the mixture, binding stratum kept whole") {
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val before = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val out = Sampling.temperatureSample(docs, "doc_id", "lang", 0.5)
    val after = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    // flattening: max/min share ratio strictly shrinks toward sqrt
    val ratioBefore = before.values.max.toDouble / before.values.min
    val ratioAfter = after.values.max.toDouble / after.values.min
    assert(ratioAfter < ratioBefore, s"$ratioAfter !< $ratioBefore")
    // the smallest stratum binds (c/sqrt(p) is minimized by smallest c):
    // it is kept whole up to the 1-ulp threshold edge
    val smallest = before.minBy(_._2)._1
    assert(after(smallest) >= before(smallest) - 1)
    // determinism + per-stratum subset of input
    val ids1 = out.select("doc_id").as[Long].collect().toSet
    val ids2 = Sampling.temperatureSample(docs, "doc_id", "lang", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2 && ids1.nonEmpty)
  }

  test("weightedSample: rate-0 rows never kept, rate-1 rows always, 0.5 tracks") {
    val rows = spark.range(30000).select($"id".cast("long").as("k"),
      (when($"id" % 3 === 0, 0.0).when($"id" % 3 === 1, 1.0)
        .otherwise(0.5)).as("rate"))
    val kept = Sampling.weightedSample(rows, "k", $"rate")
    assert(kept.filter($"rate" === 0.0).count() == 0)
    assert(kept.filter($"rate" === 1.0).count() == 10000)
    val half = kept.filter($"rate" === 0.5).count() / 10000.0
    assert(math.abs(half - 0.5) < 0.03, s"half-rate fraction $half")
    // determinism: same keys -> same sample
    val k1 = kept.select("k").as[Long].collect().toSet
    val k2 = Sampling.weightedSample(rows, "k", $"rate")
      .select("k").as[Long].collect().toSet
    assert(k1 == k2)
  }

  test("jsDivergenceByStratum: zero for identical corpora, ln2-halves for disjoint") {
    import graft.functions.TextAnalysis
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val self = TextAnalysis.jsDivergenceByStratum(docs, docs, "lang")
      .select("js_nanonats").as[Long].collect()
    assert(self.nonEmpty && self.forall(_ == 0L)) // p=q -> ln(1)=0 exactly
    // fully disjoint strata: each side's term is 0.5*p*ln(2) with p=1
    val a = Seq((1L, "x"), (2L, "x")).toDF("doc_id", "lang")
    val b = Seq((3L, "y"), (4L, "y")).toDF("doc_id", "lang")
    val d = TextAnalysis.jsDivergenceByStratum(a, b, "lang")
      .select("lang", "js_nanonats").as[(String, Long)].collect().toMap
    val want = math.floor(0.5 * math.log(2.0) * 1e9 + 0.5).toLong
    assert(d == Map("x" -> want, "y" -> want))
    // one EMPTY corpus: the other side's one-sided KL term (p=1 vs q=0 ->
    // 0.5*ln2), never NULL from a 0/0 total
    val none = Seq.empty[(Long, String)].toDF("doc_id", "lang")
    val oneSided = TextAnalysis.jsDivergenceByStratum(a, none, "lang")
      .select("lang", "js_nanonats").as[(String, Long)].collect().toMap
    assert(oneSided == Map("x" -> want))
  }

  test("epochExpand: integer factors replicate exactly; fractional part is a stable hash slice") {
    import graft.functions.Sampling
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val n = docs.count()
    // x2.0 exactly: every row twice, epochs 1 and 2
    val twice = Sampling.epochExpand(docs, "doc_id", "source",
      Map.empty, defaultEpochs = 2.0)
    assert(twice.count() == 2 * n)
    assert(twice.groupBy("doc_id").count().filter($"count" =!= 2).count() == 0)
    // x0.5: a proper subset, all epoch 1, deterministic across runs
    val half1 = Sampling.epochExpand(docs, "doc_id", "source",
      Map.empty, defaultEpochs = 0.5).select("doc_id").as[Long].collect().toSet
    val half2 = Sampling.epochExpand(docs, "doc_id", "source",
      Map.empty, defaultEpochs = 0.5).select("doc_id").as[Long].collect().toSet
    assert(half1 == half2 && half1.nonEmpty && half1.size < n)
    // x1.5 contains every row once plus exactly the x0.5 slice again
    val sesq = Sampling.epochExpand(docs, "doc_id", "source",
      Map.empty, defaultEpochs = 1.5)
    assert(sesq.filter($"epoch" === 1).count() == n)
    assert(sesq.filter($"epoch" === 2)
      .select("doc_id").as[Long].collect().toSet == half1)
  }

  test("lengthBucketBatches: full batches, non-negative bounded padding, nothing lost") {
    import graft.functions.Packing
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val b = Packing.lengthBucketBatches(docs, "doc_id", "text",
      bucketWidth = 32, batchSize = 8, nSlices = 4)
    val rows = b.select("bucket", "slice", "batch_id", "n_docs", "max_tok",
      "n_tokens", "pad_tokens").as[(Long, Int, Long, Long, Long, Long, Long)]
      .collect()
    assert(rows.map(_._4).sum == docs.count()) // every doc batched once
    assert(rows.forall(r => r._4 <= 8 && r._7 >= 0))
    // within a bucket all lengths agree to one bucket width, so a FULL
    // batch's padding is bounded by batchSize * bucketWidth
    assert(rows.filter(_._4 == 8).forall(_._7 < 8L * 32))
  }

  test("noveltyScores: shared-gram docs score 0, unique docs score 1") {
    import graft.functions.TextAnalysis
    val docs = Seq(
      (1L, "alpha beta gamma delta"),   // shares every 3-gram with doc 2
      (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta"))   // all grams unique corpus-wide
      .toDF("doc_id", "text")
    val out = TextAnalysis.noveltyScores(docs, "doc_id", "text", k = 3)
      .select("doc_id", "n_grams", "n_novel", "novelty")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 0L, 0.0)))
    assert(out(2L) == ((2L, 2L, 0L, 0.0)))
    assert(out(3L) == ((3L, 2L, 2L, 1.0)))
  }

  test("collocations: a planted strong pair ranks first with the exact PMI formula") {
    import graft.functions.TextAnalysis
    // "new york" always adjacent (strong collocation); "the" is everywhere
    // (so "the x" pairs get low PMI); pair counts meet minCount = 5
    val docs = (1L to 6L).map(i =>
      (i, "the new york office and the new york team met the group"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, "doc_id", "text",
        topK = 5, minCount = 5L)
      .select("tok_a", "tok_b", "c_ab", "pmi_micronats")
      .as[(String, String, Long, Long)].collect()
    assert(out.nonEmpty)
    // ranking is by quantized PMI desc (then pair text) — verify monotone
    val pmis = out.map(_._4).toSeq
    assert(pmis == pmis.sorted.reverse, out.mkString(", "))
    // "new york": 12 occurrences over 66 transitions, c(new)=c(york)=12 of
    // 72 tokens — recompute its exact micronat value independently
    val want = math.floor(math.log((12.0 / 66.0) /
      ((12.0 / 72.0) * (12.0 / 72.0))) * 1e6 + 0.5).toLong
    val ny = out.find(r => (r._1, r._2) == ("new", "york")).get
    assert(ny._3 == 12L && ny._4 == want, out.mkString(", "))
    // PMI ranks exclusive pairs ("office"+"and" co-occur in 100% of their
    // uses) above the frequent-but-promiscuous ones — the head pair's
    // tokens must appear ONLY in that pair
    val (ta, tb, cab, _) = out.head
    assert(cab == 6L && Set("office", "and", "team", "met")((ta)) &&
      Set("office", "and", "team", "met")(tb))
  }

  test("tokenizeIds: rank order (freq desc, tok asc), OOV -> 0, positions 1-based") {
    import graft.functions.TextAnalysis
    val docs = Seq(
      (1L, "b b b a a c"),
      (2L, "a a b z")) .toDF("doc_id", "text")
    // freqs: a=4, b=4, c=1, z=1 -> vocab(3): a=1, b=2, c=3; z is OOV
    val out = TextAnalysis.tokenizeIds(docs, "doc_id", "text", vocabSize = 3)
      .select("doc_id", "pos", "tok_id")
      .as[(Long, Int, Int)].collect().toSet
    val want = Set(
      (1L, 1, 2), (1L, 2, 2), (1L, 3, 2), (1L, 4, 1), (1L, 5, 1), (1L, 6, 3),
      (2L, 1, 1), (2L, 2, 1), (2L, 3, 2), (2L, 4, 0))
    assert(out == want)
  }

  test("concatBlocks (bucketed global cumsum) matches the one-pass global window exactly") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{Packing, TextAnalysis}
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001).repartition(8)
    def run(bits: Int) = Packing.concatBlocks(docs, "doc_id", "text",
        blockWidth = 64, bucketBits = bits)
      .select("doc_id", "start_off", "block_first", "block_last")
      .as[(Long, Long, Long, Long)].collect().toSet
    val got = run(8)
    val h = conv(substring(md5(concat(lit("pack42#"), $"doc_id".cast("string"))),
      25, 8), 16, 10).cast("long")
    val w = Window.orderBy(h.asc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val n = TextAnalysis.tokenCountWs($"text").cast("long")
    val want = docs
      .withColumn("_n", n)
      .withColumn("start_off", coalesce(sum($"_n").over(w), lit(0L)))
      .withColumn("block_first", expr("start_off div 64"))
      .withColumn("block_last", expr("(start_off + _n - 1) div 64"))
      .select("doc_id", "start_off", "block_first", "block_last")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    // bucket count is a pure performance knob
    assert(run(4) == got && run(12) == got)
    // the stream is gapless: offsets+counts tile [0, total)
    val total = docs.select(sum(n)).head.getLong(0)
    val covered = Packing.concatBlocks(docs, "doc_id", "text", 64)
      .select(sum($"n_tokens")).head.getLong(0)
    assert(covered == total)
  }

  test("empty-input robustness: round-5 ops return empty frames, not crashes") {
    import graft.functions.{Dedup, Packing, TextAnalysis}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Packing.concatBlocks(empty, "doc_id", "text", 64).count() == 0)
    assert(TextAnalysis.tokenizeIds(empty, "doc_id", "text", 10).count() == 0)
    assert(TextAnalysis.noveltyScores(empty, "doc_id", "text", 3).count() == 0)
    assert(TextAnalysis.collocations(empty, "doc_id", "text", 5).count() == 0)
    val emptyG = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    assert(Dedup.groupOverlap(emptyG, "source", "text", 3).count() == 0)
    assert(Dedup.groupMinhashSimilarity(emptyG, "source", "text", 3, 8).count() == 0)
    assert(TextAnalysis.jsDivergenceByStratum(
      emptyG.withColumnRenamed("source", "lang"),
      emptyG.withColumnRenamed("source", "lang"), "lang").count() == 0)
    // CC with zero edges: every node is its own singleton
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(nodes, "doc_id", noPairs)
      .as[(Long, Long)].collect().toSet
    assert(cc == Set((1L, 1L), (2L, 2L), (3L, 3L)))
    // the self-trained LM scorers on no rows, and on corpora with no
    // transitions (every doc shorter than the order, or NULL text): there
    // is no corpus mean, so the cuts are NULL — the oracle's `//` by zero
    // — and every doc is (0 transitions, 0 micronats, 'tail')
    assert(TextAnalysis.perplexity(empty, "doc_id", "text").count() == 0)
    assert(TextAnalysis.perplexityBigram(empty, "doc_id", "text").count() == 0)
    assert(TextAnalysis.perplexityKneserNey(empty, "doc_id", "text").count() == 0)
    assert(TextAnalysis.perplexityKneserNey3(empty, "doc_id", "text").count() == 0)
    val emptyL = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(TextAnalysis.ccnetBuckets(emptyL, "doc_id", "text", "lang").count() == 0)
    val allNull = Seq((1L, null: String), (2L, null: String)).toDF("doc_id", "text")
    assert(TextAnalysis.perplexity(allNull, "doc_id", "text").count() == 0)
    val noBigrams = Seq((1L, "a"), (2L, null: String)).toDF("doc_id", "text")
    val noTrigrams = Seq((1L, "a b"), (2L, null: String)).toDF("doc_id", "text")
    def rows(out: org.apache.spark.sql.DataFrame) = out
      .select("doc_id", "n_transitions", "logprob_micronats", "ppl_bucket")
      .as[(Long, Int, Long, String)].collect().toSet
    val allTail = Set((1L, 0, 0L, "tail"), (2L, 0, 0L, "tail"))
    assert(rows(TextAnalysis.perplexityBigram(noBigrams, "doc_id", "text")) == allTail)
    assert(rows(TextAnalysis.perplexityKneserNey(noBigrams, "doc_id", "text")) == allTail)
    assert(rows(TextAnalysis.perplexityKneserNey3(noTrigrams, "doc_id", "text")) == allTail)
  }

  test("per-stratum rates apply to the right strata, deterministically") {
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val rates = Map("en" -> 1.0, "zh" -> 0.0)
    val s1 = Sampling.stratifiedSample(docs, "doc_id", "lang", rates, 0.5)
      .select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.stratifiedSample(docs, "doc_id", "lang", rates, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2) // pure function of the keys
    val byLang = Sampling.stratifiedSample(docs, "doc_id", "lang", rates, 0.5)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val allEn = docs.filter($"lang" === "en").count()
    assert(byLang.getOrElse("en", 0L) == allEn) // rate 1.0 keeps everything
    assert(!byLang.contains("zh"))              // rate 0.0 keeps nothing
  }

  test("bm25TopK: tf wins at equal length, length-normalization wins at equal tf") {
    import graft.functions.TextAnalysis
    val docs = Seq(
      (1L, "scan scan scan pad pad"),             // tf=3, dl=5
      (2L, "scan pad pad pad pad"),               // tf=1, dl=5
      (3L, "scan pad pad pad pad pad pad pad pad pad"), // tf=1, dl=10
      (4L, "pad pad")                             // no hit -> absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("q" -> Seq("scan")), topK = 10)
      .select("qid", "doc_id", "rnk", "n_terms_hit")
      .as[(String, Long, Int, Long)].collect().sortBy(_._3)
    assert(out.map(_._2).toSeq == Seq(1L, 2L, 3L)) // tf, then shorter dl
    assert(out.map(_._3).toSeq == Seq(1, 2, 3))
    assert(out.forall(_._4 == 1L))
    // topK truncates: with k=1 only the best survives
    val top1 = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq("q" -> Seq("scan")), topK = 1)
    assert(top1.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("dsirWeights: target-like docs outscore off-target docs; exact feature count") {
    // target distribution is pure "alpha beta"; raw has one doc matching it
    // and one sharing nothing with it — importance log-weight must rank the
    // matching doc strictly higher, and only it above the mean (selected)
    val target = Seq((100L, "alpha beta"), (101L, "alpha beta"),
      (102L, "beta alpha")).toDF("doc_id", "text")
    val raw = Seq((1L, "alpha beta"), (2L, "zeta yota")).toDF("doc_id", "text")
    val out = Sampling.dsirWeights(raw, target, "doc_id", "text", dim = 64)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    // 2 tokens + 1 bigram each
    assert(out.forall(_._2 == 3L))
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._3 > byId(2L)._3)
    assert(byId(1L)._4 && !byId(2L)._4)
    // weights are a pure function of the two corpora: stable across runs
    val again = Sampling.dsirWeights(raw, target, "doc_id", "text", dim = 64)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(again.toSeq == out.toSeq)
  }

  test("vocabCoverage: matches a brute-force ranking; monotone and bounded") {
    import graft.functions.TextAnalysis
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val got = TextAnalysis.vocabCoverage(docs, "text", Seq(50L, 500L, 100000L))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val counts = docs.select(explode(split($"text", " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().map(_._2).sortBy(-_)
    val total = counts.sum
    got.foreach { case (n, covered, tot, cov) =>
      assert(tot == total)
      assert(covered == counts.take(n.toInt).sum, s"n=$n")
      assert(math.abs(cov - covered.toDouble / total) < 1e-15)
    }
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted, "monotone in n")
    assert(got.last._4 == 1.0, "N >= vocab covers everything")
  }

  test("langIdMargin: margin is the top-two score gap and 0 exactly on ties") {
    import graft.functions.TextAnalysis
    val docs = Seq(
      (1L, "the of and is in it a to"), // strongly en
      (2L, "el the")) // en and es tie at 1
      .toDF("doc_id", "text")
    val got = TextAnalysis.langIdMargin(docs, "doc_id", "text")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(got(0)._2 == "en" && got(0)._3 > 0)
    assert(got(1)._3 == 0, "tied call must have zero margin")
  }

  test("charEntropy: zero for single-char filler, ln(k) micronats for uniform text") {
    import graft.functions.TextAnalysis
    val docs = Seq(
      (1L, "aaaaaaaa"), // one symbol -> entropy exactly 0
      (2L, "abcd"), // uniform over 4 -> ln(4) = 1386294 micronats (n_c=1 terms are 0)
      (3L, "aabb")) // uniform over 2 -> ln(2)-ish via quantized ln(2) terms
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 8L, 0L)))
    assert(got(1)._3 == math.floor(math.log(4.0) * 1e6 + 0.5).toLong)
    // ln(4) quantized minus (4 * q(ln 2)) / 4 = q(ln 4) - q(ln 2)
    val q = (x: Double) => math.floor(math.log(x) * 1e6 + 0.5).toLong
    assert(got(2)._3 == q(4.0) - q(2.0))
  }

  test("bootstrapStats: deterministic Poisson(1) weights — mean ~1, spread real") {
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
      .select($"doc_id", size(split($"text", " ")).as("n_tokens"))
    val n = docs.count()
    val totalTokens = docs.agg(sum($"n_tokens".cast("long"))).head().getLong(0)
    val got = Sampling.bootstrapStats(docs, "doc_id", "n_tokens", 16)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 16 && got.map(_._1).toSeq == (1 to 16))
    // E[weight] = 1: every replicate's weighted doc count ~ n (±5 sd; sd ~ sqrt(n))
    got.foreach { case (_, docsW, toksW) =>
      assert(math.abs(docsW - n) < 5 * math.sqrt(n.toDouble), s"$docsW vs $n")
      assert(math.abs(toksW - totalTokens).toDouble < 0.2 * totalTokens)
    }
    // replicates genuinely differ (the spread is the estimator)
    assert(got.map(_._2).distinct.length > 1)
    val again = Sampling.bootstrapStats(docs, "doc_id", "n_tokens", 16)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(again.sameElements(got))
  }

  test("budgetTrimPerStratum: per-stratum best-first equivalence and budget respect") {
    import graft.functions.TextAnalysis
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val scored = TextAnalysis.qualityMetrics(docs)
      .withColumn("q", TextAnalysis.qualityScore())
    val budgets = Map("en" -> 3000L, "zh" -> 2000L)
    val got = Sampling.budgetTrimPerStratum(scored, "doc_id", "q",
        "n_tokens", "lang", budgets, defaultBudget = 1000L)
      .select("doc_id", "lang", "cum_tokens")
      .as[(Long, String, Long)].collect()
    // brute-force per-stratum: sort by (q desc, id), cumsum, cut at budget
    val all = scored.select($"doc_id", $"lang", $"q", $"n_tokens")
      .as[(Long, String, Double, Int)].collect()
    val want = all.groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
      val budget = budgets.getOrElse(lang, 1000L)
      var cum = 0L
      rows.sortBy(r => (-r._3, r._1)).toSeq.flatMap { r =>
        cum += r._4
        if (cum <= budget) Some((r._1, lang, cum)) else None
      }
    }.toSet
    assert(got.toSet == want)
    got.groupBy(_._2).foreach { case (lang, rows) =>
      assert(rows.map(_._3).max <= budgets.getOrElse(lang, 1000L))
    }
    assert(got.map(_._2).toSet.size >= 3, "multiple strata survive")
  }

  test("leakageSafeSplit: clusters never straddle splits; singletons match the plain split") {
    import graft.functions.Dedup
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
      k = 3, numHashes = 16, threshold = 0.8)
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Dedup.leakageSafeSplit(docs, "doc_id", pairs, splits)
      .as[(Long, Long, String)].collect()
    assert(got.length == docs.count())
    // one split per cluster
    got.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"cluster $c straddles")
    }
    // multi-member clusters exist in the fixture (planted near-dups)
    assert(got.groupBy(_._2).exists(_._2.length > 1))
    // a singleton's assignment is exactly splitAssign(doc_id)
    val plain = docs.select($"doc_id",
        Sampling.splitAssign($"doc_id", splits).as("s"))
      .as[(Long, String)].collect().toMap
    got.filter(r => r._1 == r._2).foreach { case (id, c, s) =>
      val isSingleton = got.count(_._2 == c) == 1
      if (isSingleton) assert(s == plain(id), s"singleton $id moved")
    }
  }

  test("contamination audit: plain split leaks near-dup pairs, cluster split leaks none") {
    import graft.functions.Dedup
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
      k = 3, numHashes = 16, threshold = 0.8).persist()
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def straddles(sp: org.apache.spark.sql.DataFrame): Long = pairs
      .join(sp.select($"doc_id".as("id_a"), $"split".as("_sa")), Seq("id_a"))
      .join(sp.select($"doc_id".as("id_b"), $"split".as("_sb")), Seq("id_b"))
      .filter($"_sa" =!= $"_sb").count()
    val plain = docs.select($"doc_id",
      Sampling.splitAssign($"doc_id", splits).as("split"))
    val safe = Dedup.leakageSafeSplit(docs, "doc_id", pairs, splits)
      .select($"doc_id", $"split")
    assert(straddles(plain) > 0, "fixture must exhibit the leak the audit measures")
    assert(straddles(safe) == 0, "cluster-keyed split must never straddle")
    pairs.unpersist()
  }

  test("ccnetBuckets: per-language thirds by value threshold, ties never straddle") {
    import graft.functions.TextAnalysis
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val got = TextAnalysis.ccnetBuckets(docs, "doc_id", "text", "lang")
      .as[(Long, String, Long, String)].collect()
    assert(got.length == docs.count())
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val n = rows.length
      val head = rows.count(_._4 == "head")
      val mid = rows.count(_._4 == "middle")
      // cutoff semantics: count(v <= c1) >= ceil(n/3), likewise 2n/3
      assert(head >= math.ceil(n / 3.0).toInt - n / 10,
        s"$lang head=$head n=$n")
      assert(head + mid >= math.ceil(2 * n / 3.0).toInt - n / 10)
      // equal surprisal => equal bucket
      rows.groupBy(_._3).foreach { case (_, same) =>
        assert(same.map(_._4).distinct.length == 1)
      }
      // buckets are ordered by score: max(head) < min(middle) < ... where present
      val hMax = rows.filter(_._4 == "head").map(_._3)
      val mAll = rows.filter(_._4 == "middle").map(_._3)
      val tAll = rows.filter(_._4 == "tail").map(_._3)
      if (hMax.nonEmpty && mAll.nonEmpty) assert(hMax.max < mAll.min)
      if (mAll.nonEmpty && tAll.nonEmpty) assert(mAll.max < tAll.min)
    }
  }

  test("temporalEmbargoSplit: cutoffs at the permille points; embargo " +
    "rows excluded from both sides; gap auditable") {
    import spark.implicits._
    // 100 events at minute marks over [0, 99]: span 99 min,
    // t1 = lo + 69.3 min, t2 = lo + 74.25 min
    val ev = (0 until 100).map { i =>
      val h = 10 + i / 60; val m = i % 60
      (f"2024-08-01 $h%02d:$m%02d:00", "e")
    }.toDF("ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = Sampling.temporalEmbargoSplit(ev, "ts", "event_type",
        trainPermille = 700, embargoPermille = 50)
      .select("split", "n_rows", "first_us", "last_us")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // span = 99 min; t1 = 69.3 min -> train = minutes 0..69 (70 rows);
    // t2 = 74.25 -> embargo = minutes 70..74 (5); test = 75..99 (25)
    assert(got("train")._1 == 70L)
    assert(got("embargo")._1 == 5L)
    assert(got("test")._1 == 25L)
    // auditable gap: embargo strictly separates train and test
    assert(got("train")._3 < got("embargo")._2 &&
      got("embargo")._3 < got("test")._2)
  }

  test("essReport: uniform weights read 1e6 ppm; a dominant weight " +
    "collapses the effective size (exact Kish ratio)") {
    import graft.functions.Sampling
    val df = Seq(("u", 5L), ("u", 5L), ("u", 5L), ("u", 5L),
      ("d", 10L), ("d", 1L), ("d", 1L))
      .toDF("source", "w")
    val got = Sampling.essReport(df, "source", col("w"))
      .select("source", "n", "ess_ppm")
      .as[(String, Long, Long)].collect()
      .map { case (s, n, e) => s -> ((n, e)) }.toMap
    assert(got("u") == ((4L, 1000000L)))
    // (12)^2 * 1e6 / (3 * 102) = 144e6 / 306 = 470588 (truncated)
    assert(got("d") == ((3L, 470588L)))
  }
}
