package graft

import graft.functions.{Dedup, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  /** Small corpus with a planted exact dup (1,2), a near dup (3,4), and
    * unrelated docs. */
  def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3L, "the quick brown fox jumps over the lazy dog near the river shore"),
    (4L, "the quick brown fox jumps over the lazy dog near the river"),
    (5L, "completely different text about spark catalyst query optimization"),
    (6L, "another unrelated document mentioning parquet columnar storage"))
    .toDF("doc_id", "text")

  test("PQ: ADC top-10 recalls most of the exact L2 top-10; codes compress 8x count-wise") {
    import graft.functions.PQ
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val model = PQ.train(e, "embedding", "vec_id", m = 8, ks = 16)
    assert(model.m == 8 && model.ks == 16 && model.dsub == 8)
    val q = e.filter($"vec_id" === 1).head().getSeq[Float](1).map(_.toDouble).toSeq
    val encoded = e.select($"vec_id",
      PQ.encode($"embedding", model).as("codes"))
    // stored representation: 8 small ints per 64-float vector
    assert(encoded.select(size($"codes")).head().getInt(0) == 8)
    val approx = PQ.searchADC(encoded, "vec_id", "codes", q, model, k = 10)
      .select("vec_id").as[Long].collect().toSet
    // exact squared-L2 top-10 (same metric ADC approximates)
    val qArr = array(q.map(lit): _*)
    val exact = e.withColumn("d2",
        graft.plans.VecDot($"embedding", $"embedding")
          - lit(2.0) * graft.plans.VecDot($"embedding", qArr)
          + lit(q.map(x => x * x).sum))
      .orderBy($"d2", $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (approx & exact).size / 10.0
    assert(recall >= 0.5, s"recall@10 = $recall")
    // the query's own vector is its nearest neighbor even after quantization
    assert(approx.contains(1L))
  }

  test("residual IVF-PQ: quantization error below raw-vector codes; sane recall") {
    import graft.functions.{IVF, PQ}
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val coarse = IVF.train(e, "embedding", "vec_id", k = 8)
    val raw = PQ.train(e, "embedding", "vec_id", m = 8, ks = 16)
    val res = PQ.trainResidual(e, "embedding", "vec_id", coarse, m = 8, ks = 16)
    // mean squared quantization error: residual codes must beat raw codes
    // (that is the whole point of encoding residuals). Vector and codes
    // are materialized as columns FIRST so the 64 error terms reference
    // them by name instead of inlining the (large) encode/residual trees
    // 64 times over.
    def mse(base: org.apache.spark.sql.DataFrame, model: PQ.Model): Double = {
      val withCodes = base.select(col("_v"),
        PQ.encode(col("_v"), model).as("_codes"))
      val err = model.codebooks.zipWithIndex.flatMap { case (book, s) =>
        (0 until model.dsub).map { d =>
          val comps = book.map(c => lit(c(d)))
          val r = element_at(array(comps: _*),
            element_at(col("_codes"), s + 1) + 1)
          val x = element_at(col("_v"), s * model.dsub + d + 1).cast("double")
          (x - r) * (x - r)
        }
      }.reduce(_ + _)
      withCodes.select(avg(err)).head().getDouble(0)
    }
    val rawMse = mse(e.select(col("embedding").as("_v")), raw)
    val resMse = mse(
      e.select(PQ.residual(col("embedding"), coarse).as("_v")), res)
    assert(resMse < rawMse, s"residual $resMse vs raw $rawMse")
    // search sanity: the query's own vector survives quantization
    val q = e.filter($"vec_id" === 3).head().getSeq[Float](1).map(_.toDouble).toSeq
    val encoded = PQ.encodeResidual(e, "embedding", "vec_id", coarse, res)
    val top = PQ.searchIVFPQResidual(encoded, "vec_id", coarse, res,
      q, topK = 10, nProbe = 3).select("vec_id").as[Long].collect().toSet
    assert(top.contains(3L))
  }

  test("exact dedup keeps lowest id per distinct text") {
    val kept = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L, 6L))
    val groups = Dedup.exactGroups(docs, "text", "doc_id")
    assert(groups.filter($"n_dups" === 2).select("keep_id").as[Long].head() == 1L)
  }

  test("shingles: distinct k-word windows; short docs fall back to full text") {
    val sh = docs.select(Dedup.shingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
    assert(sh.count() == 6)
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
      .select(Dedup.shingles($"text", 3).as("sh")).head.getSeq[String](0)
    assert(short == Seq("two words"))
  }

  test("inverted-index jaccard/containment == direct pairwise computation (seeded random corpus)") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val base = (1L to 25L).map { i =>
      val len = 3 + rnd.nextInt(10)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        s"s${rnd.nextInt(2)}")
    }
    // planted near-dups: same source, one appended word — the overlap graph
    // must be non-trivial for the equality check to mean anything
    val variants = base.take(8).map { case (i, t, s) =>
      (i + 100L, t + " " + vocab(rnd.nextInt(vocab.size)), s)
    }
    val corpus = (base ++ variants).toDF("doc_id", "text", "src")
    val sh = corpus.select($"doc_id", $"src", Dedup.shingles($"text", 3).as("sh"))
      .as[(Long, String, Seq[String])].collect()
    val wantJac = (for {
      a <- sh; b <- sh if a._1 < b._1 && a._2 == b._2
      inter = a._3.toSet.intersect(b._3.toSet).size
      uni = a._3.toSet.union(b._3.toSet).size
      j = inter.toDouble / uni if j >= 0.3
    } yield (a._1, b._1, j)).toSet
    val gotJac = Dedup.jaccardPairs(corpus, "doc_id", "text", "src", 3, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(gotJac == wantJac)
    assert(wantJac.nonEmpty) // the corpus must actually exercise the path
    val wantCon = (for {
      a <- sh; b <- sh if a._1 != b._1 && a._2 == b._2
      c = a._3.toSet.intersect(b._3.toSet).size.toDouble / a._3.size if c >= 0.5
    } yield (a._1, b._1, c)).toSet
    val gotCon = Dedup.containmentPairs(corpus, "doc_id", "text", "src", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(gotCon == wantCon)
    assert(wantCon.nonEmpty)
  }

  test("removeDuplicatedSpans drops only words covered by corpus-duplicated grams") {
    val tiny = Seq(
      (1L, "alpha beta gamma delta unique1 tail1"),
      (2L, "alpha beta gamma delta unique2 tail2"),
      (3L, "nothing shared here at all today")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(tiny, "doc_id", "text", k = 3, minDocs = 2)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    // "alpha beta gamma" and "beta gamma delta" are in docs 1 and 2 ->
    // words 0..3 covered in both; the unique tails survive
    assert(out(0) == ((1L, "unique1 tail1", 4)))
    assert(out(1) == ((2L, "unique2 tail2", 4)))
    assert(out(2) == ((3L, "nothing shared here at all today", 0)))
    // a doc shorter than k words passes through even if its text repeats
    val short = Seq((1L, "hi there"), (2L, "hi there")).toDF("doc_id", "text")
    val s = Dedup.removeDuplicatedSpans(short, "doc_id", "text", 3, 2)
      .select("clean_text").as[String].collect()
    assert(s.toSet == Set("hi there"))
  }

  test("minhash LSH finds exact and near dups, with true jaccard attached") {
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
      k = 3, numHashes = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) == 1.0)            // exact dup
    assert(byPair.contains((3L, 4L)) || byPair.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash signature: expression == relational, bit for bit") {
    val expr = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rel = Dedup.minhashSignaturesRelational(docs, "doc_id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(expr == rel && expr.size == 6)
    assert(expr(1L) == expr(2L)) // identical docs, identical signatures
  }

  test("connectedComponents: chains, triangles, singletons, convergence") {
    val nodes = (1L to 9L).toDF("id")
    // chain 1-2-3-4 (diameter 3: needs multiple propagation rounds),
    // triangle 5-6-7, singleton 8, pair 9-? none -> singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
  }

  test("exact-then-near pipeline: duplicated corpus yields the original's pairs") {
    import org.apache.spark.sql.DataFrame
    // replicate every doc with offset ids: exact dedup must collapse each
    // clique to its lowest (original) id, so near-dup pairs equal the
    // pairs of the original corpus
    def dup(df: DataFrame, n: Int): DataFrame =
      (0 until n).map(i => df.withColumn("doc_id", $"doc_id" + lit(i * 1000L)))
        .reduce(_ unionAll _)
    val base = Tables.documents(spark, GraftTestSpark.Sf0001).limit(100)
    val pairsOrig = Dedup.minhashDedupPairs(base, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pairsDup = Dedup.nearDupPairsAfterExact(dup(base, 5), "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairsDup == pairsOrig)
  }

  test("minhash candidates match exact jaccard pairs on real documents (recall)") {
    val d = Tables.documents(spark, GraftTestSpark.Sf0001).limit(200)
      .withColumn("blk", lit(1))
    val exact = Dedup.jaccardPairs(d, "doc_id", "text", "blk", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashDedupPairs(d, "doc_id", "text", 3, 16, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact) // verify step kills false positives; b=16,r=1 recall
  }

  test("simhash expression == relational formulation, bit for bit") {
    val expr = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel = Dedup.simhashRelational(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expr == rel)
  }

  test("vec_dot expression == zip_with/aggregate composition, bit for bit") {
    val hof = vecs.crossJoin(vecs.select($"vec_id".as("id2"), $"embedding".as("e2")))
      .select(aggregate(zip_with($"embedding", $"e2",
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("d"))
      .as[Double].collect().toSeq
    val native = vecs.crossJoin(vecs.select($"vec_id".as("id2"), $"embedding".as("e2")))
      .select(Similarity.dot($"embedding", $"e2").as("d"))
      .as[Double].collect().toSeq
    assert(hof == native)
  }

  test("vec_dot NULL semantics == HOF form: length mismatch and null elements") {
    val rows = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)), // 11.0
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)),      // null
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0))) // null
    val df = rows.toDF("a", "b")
    val hof = df.select(aggregate(zip_with($"a", $"b",
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("d"))
      .as[Option[Double]].collect().toSeq
    val native = df.select(Similarity.dot($"a", $"b").as("d"))
      .as[Option[Double]].collect().toSeq
    assert(native == hof)
    assert(native == Seq(Some(11.0), None, None))
  }

  test("simhash: identical docs get identical hashes; near dups are close") {
    val h = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(3L)) < hamming(h(1L), h(5L)))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash multi-block pairs == brute-force hamming<=3 (exact by pigeonhole)") {
    // seeded corpus with exact-dup groups and one-token variants so the
    // pair set is non-trivial; the LSH output must equal an all-pairs
    // popcount computed independently on the collected signatures
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (1L to 20L).map { i =>
      (i, Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val copies = base.take(6).map { case (i, t) => (i + 100L, t) }
    val variants = base.take(6).map { case (i, t) =>
      (i + 200L, t + " " + vocab(rnd.nextInt(vocab.size)))
    }
    val corpus = (base ++ copies ++ variants).toDF("doc_id", "text")
    val sigs = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val want = (for {
      (ia, ha) <- sigs; (ib, hb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want.map { case (a, b, d) => (a, b, d) })
    assert(got.nonEmpty) // the planted exact dups guarantee hamming-0 pairs
    // the multi-block candidate set is a superset of the verified pairs
    val cands = Dedup.simhashCandidates(corpus, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toSet
    assert(want.map(p => (p._1, p._2)).subsetOf(cands))
  }

  test("connected components: 100-node chain converges (pointer jumping) within 15 rounds") {
    // plain min-label propagation needs 99 rounds on a 99-edge path; the
    // jump step must finish in O(log n) — 15 is the budget, and a
    // non-converged run leaves labels != 0 so the assertion catches it
    val nodes = (0L until 100L).toDF("id")
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // driverMaxEdges = 0 forces the distributed loop — the driver fast
    // path would otherwise absorb every test-sized graph
    val labels = Dedup.connectedComponents(nodes, "id", pairs,
      maxIters = 15, driverMaxEdges = 0L)
    assert(labels.count() == 100)
    assert(labels.select("cluster_id").distinct().as[Long].collect().toSeq == Seq(0L))
  }

  test("connected components: driver union-find fast path == distributed loop") {
    // adversarial-ish graph: chains, a triangle merged into a chain, dup
    // edges, self-contained cliques, and isolated nodes
    val nodes = (0L until 60L).toDF("id")
    val rnd = new scala.util.Random(7)
    val pairs = ((0L until 25L).map(i => (i, i + 1)) ++ // long chain
      Seq((30L, 31L), (31L, 32L), (30L, 32L), (32L, 25L)) ++ // triangle joins chain
      Seq((40L, 41L), (41L, 40L), (40L, 41L)) ++ // dup/reversed edges
      (0 until 30).map(_ => { val a = 45 + rnd.nextInt(10); (a.toLong, (45 + rnd.nextInt(10)).toLong) })
      ).toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    val loop = Dedup.connectedComponents(nodes, "id", pairs, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast == loop)
    assert(fast(25L) == 0L && fast(32L) == 0L) // triangle merged into the chain
  }

  test("incremental near-dup against persisted band index == batch pipeline cross-set pairs") {
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val incoming = docs.filter($"doc_id" % 7 === 0)
    val corpus = docs.filter($"doc_id" % 7 =!= 0)
    val path = "target/tmp/test-band-index"
    Dedup.writeBandIndex(corpus, "doc_id", "text", path)
    val got = Dedup.nearDupAgainstCorpus(incoming, corpus,
        spark.read.parquet(path), "doc_id", "text", threshold = 0.8)
      .select("id_new", "id_corp").as[(Long, Long)].collect().toSet
    // batch pipeline over the whole corpus, filtered to cross-set pairs
    val batch = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        k = 3, numHashes = 16, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val want = batch.collect {
      case (a, b) if a % 7 == 0 && b % 7 != 0 => (a, b)
      case (a, b) if b % 7 == 0 && a % 7 != 0 => (b, a)
    }.toSet
    assert(got == want)
    assert(got.nonEmpty) // the documents table's dup clusters cross the split
  }

  test("approx_count_distinct within 10% of exact (HLL accuracy pin)") {
    val li = Tables.lineitem(spark, GraftTestSpark.Sf0001)
    val both = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    both.foreach { r =>
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e < 0.10, s"approx $a vs exact $e")
    }
  }

  // ---- similarity ----

  def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
    (4L, Array(0.7f, 0.7f, 0.0f))).toDF("vec_id", "embedding")

  test("cosine: identity 1, orthogonal 0, opposite -1") {
    val c = vecs.crossJoin(vecs.select($"vec_id".as("id2"), $"embedding".as("e2")))
      .withColumn("cos", Similarity.cosine($"embedding", $"e2"))
    def cos(a: Long, b: Long) = c.filter($"vec_id" === a && $"id2" === b)
      .select("cos").as[Double].head()
    assert(math.abs(cos(0L, 0L) - 1.0) < 1e-12)
    assert(math.abs(cos(0L, 2L)) < 1e-12)
    assert(math.abs(cos(0L, 3L) + 1.0) < 1e-12)
  }

  test("brute-force top-k ranks by cosine") {
    val top = Similarity.bruteForceTopK(vecs, "embedding", "vec_id",
      Seq(1.0f, 0.0f, 0.0f), 3).select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(0L, 1L, 4L))
  }

  test("WinnowSelect: windows, leftmost ties, clipped short arrays, global dedupe") {
    def sel(hs: Seq[Long], w: Int): Seq[(Int, Long)] =
      Seq(hs).toDF("hs")
        .select(explode(graft.plans.WinnowSelect(col("hs"), w)).as("f"))
        .select(col("f.p"), col("f.h")).as[(Int, Long)].collect().toSeq
    // m < w: one clipped window over the whole array
    assert(sel(Seq(7L, 3L), 4) == Seq((2, 3L)))
    // leftmost tie: the [3,3] window picks position 2 (already selected);
    // the [3,9] window picks position 3
    assert(sel(Seq(5L, 3L, 3L, 9L), 2) == Seq((2, 3L), (3, 3L)))
    // sliding windows + global dedupe (first occurrence order)
    // windows of [9,1,8,2] w=2: [9,1]->p2, [1,8]->p2, [8,2]->p4
    assert(sel(Seq(9L, 1L, 8L, 2L), 2) == Seq((2, 1L), (4, 2L)))
    // strictly decreasing: every window selects its right edge
    assert(sel(Seq(4L, 3L, 2L, 1L), 2) == Seq((2, 3L), (3, 2L), (4, 1L)))
  }

  test("MMR: diversity outranks redundancy from round 3 on") {
    // After round 1 picks the query-parallel vector, maxsim == rel for
    // everything (diversity can't separate yet — ties break by id, so
    // round 2 picks id 1). Round 3 is the discriminating round: id 2 is an
    // EXACT duplicate of the just-picked id 1 (ms = 1, score = 0.6 − 0.5),
    // while id 3 mirrors it away from the selected set (ms = 0.6,
    // score = 0.6 − 0.3) — the duplicate must lose.
    val dup = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.6f, 0.8f, 0.0f)),
      (2L, Array(0.6f, 0.8f, 0.0f)),
      (3L, Array(0.6f, -0.8f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(dup, "embedding", "vec_id",
      Seq(1.0f, 0.0f, 0.0f), k = 4, lambda = 0.5)
      .orderBy("rank")
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 3L, 2L))
  }

  test("MMR: lambda = 0 degenerates to pure relevance ranking") {
    val got = Similarity.mmrSelect(vecs, "embedding", "vec_id",
      Seq(1.0f, 0.0f, 0.0f), k = 3, lambda = 0.0)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 4L)) // == bruteForceTopK order
  }

  test("MMR: k beyond the candidate count stops when exhausted") {
    val got = Similarity.mmrSelect(vecs, "embedding", "vec_id",
      Seq(1.0f, 0.0f, 0.0f), k = 99)
    assert(got.count() == 5)
  }

  test("MMR: candidate pool bounds the greedy loop to top-pool by relevance") {
    // pool = 2 keeps only the two most query-relevant vectors: the loop
    // must never consider (or return) anything outside that shortlist,
    // and must equal MMR run over the manually prefiltered pool
    val q = Seq(1.0f, 0.0f, 0.0f)
    val pooled = Similarity.mmrSelect(vecs, "embedding", "vec_id",
      q, k = 5, lambda = 0.5, pool = 2)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val topIds = Similarity.bruteForceTopK(vecs, "embedding", "vec_id", q, 2)
      .select("vec_id").as[Long].collect().toSet
    val manual = Similarity.mmrSelect(
      vecs.filter($"vec_id".isin(topIds.toSeq: _*)), "embedding", "vec_id",
      q, k = 5, lambda = 0.5)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(pooled.size == 2 && pooled.toSet.subsetOf(topIds))
    assert(pooled == manual)
  }

  test("ANN via LSH bucket returns a subset of brute-force ranking, topped by the query itself") {
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val q = e.filter($"vec_id" === 0).head.getSeq[Float](1)
    val ann = Similarity.annTopK(e, "embedding", "vec_id", q, 10, nPlanes = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(ann.nonEmpty && ann.head == 0L) // query's own vector leads
    val brute = Similarity.bruteForceTopK(e, "embedding", "vec_id", q, 500)
      .select("vec_id").as[Long].collect().toSeq
    val bruteRank = brute.zipWithIndex.toMap
    assert(ann.forall(bruteRank.contains))
    // ann order is consistent with exact cosine order
    assert(ann.map(bruteRank) == ann.map(bruteRank).sorted)
  }

  test("IVF with nProbe = k degrades to exact brute force; fewer probes stay consistent") {
    import graft.functions.IVF
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val q = e.filter($"vec_id" === 0).head.getSeq[Float](1)
    val model = IVF.train(e, "embedding", "vec_id", k = 8)
    assert(model.k == 8 && model.dim == 64)
    val exhaustive = IVF.search(e, "embedding", "vec_id", model, q, 10, nProbe = 8)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(e, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(exhaustive == brute)
    val probed = IVF.search(e, "embedding", "vec_id", model, q, 10, nProbe = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(probed.nonEmpty && probed.head == 0L) // query's own cell probed first
    val bruteRank = Similarity.bruteForceTopK(e, "embedding", "vec_id", q, 500)
      .select("vec_id").as[Long].collect().zipWithIndex.toMap
    assert(probed.map(bruteRank) == probed.map(bruteRank).sorted) // order consistent
  }

  test("IVF indexed layout: probe search prunes cell partitions, same results") {
    import graft.functions.IVF
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val q = e.filter($"vec_id" === 0).head.getSeq[Float](1)
    val model = IVF.train(e, "embedding", "vec_id", k = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf-index").toString
    IVF.writeIndexed(e, "embedding", "vec_id", model, dir)
    val probed = IVF.searchIndexed(spark, dir, "embedding", "vec_id",
      model, q, topK = 10, nProbe = 2)
    // the cell predicate must resolve to partition pruning: whole unprobed
    // cell directories excluded before any file IO
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"), plan)
    // and ranking is identical to the in-memory probe search
    val mem = IVF.search(e, "embedding", "vec_id", model, q, 10, nProbe = 2)
      .select("vec_id").as[Long].collect().toSeq
    val idx = probed.select("vec_id").as[Long].collect().toSeq
    assert(idx == mem)
  }

  test("IVF appendIndexed: two-stage (base + appended increment) layout == single-shot index") {
    import graft.functions.IVF
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val model = IVF.train(e, "embedding", "vec_id", k = 8)
    val full = java.nio.file.Files.createTempDirectory("ivf-full").toString
    IVF.writeIndexed(e, "embedding", "vec_id", model, full)
    val inc = java.nio.file.Files.createTempDirectory("ivf-inc").toString
    IVF.writeIndexed(e.filter($"vec_id" % 3 =!= 0), "embedding", "vec_id", model, inc)
    IVF.appendIndexed(e.filter($"vec_id" % 3 === 0), "embedding", "vec_id", model, inc)
    // several query vectors: ranking over the incrementally-built layout
    // must be indistinguishable from the single-shot one
    Seq(0L, 7L, 42L).foreach { qid =>
      val q = e.filter($"vec_id" === qid).head.getSeq[Float](1)
      val a = IVF.searchIndexed(spark, full, "embedding", "vec_id", model, q, 10, 2)
        .select("vec_id").as[Long].collect().toSeq
      val b = IVF.searchIndexed(spark, inc, "embedding", "vec_id", model, q, 10, 2)
        .select("vec_id").as[Long].collect().toSeq
      assert(a == b, s"query $qid")
    }
  }

  test("int8 quantized dot tracks the exact dot: bounded error, high recall") {
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val q = e.filter($"vec_id" === 0).head.getSeq[Float](1)
    val qArr = array(q.map(v => lit(v)): _*)
    val both = e.select($"vec_id",
        Similarity.dot($"embedding", qArr).as("exact"),
        Similarity.dotQuantized(
          Similarity.quantizeInt8($"embedding"),
          Similarity.quantizeInt8(qArr)).as("quant"))
      .as[(Long, Double, Double)].collect()
    // int8 symmetric quantization: relative error within a few percent of
    // the vector magnitude product
    val norms = both.map { case (_, ex, qd) => math.abs(ex - qd) }
    val maxAbs = both.map(t => math.abs(t._2)).max
    assert(norms.max <= 0.05 * math.max(maxAbs, 1.0), s"max err ${norms.max}")
    // ranking mostly preserved: exact top-20 vs quantized top-20 overlap
    val exactTop = both.sortBy(t => (-t._2, t._1)).take(20).map(_._1).toSet
    val quantTop = both.sortBy(t => (-t._3, t._1)).take(20).map(_._1).toSet
    assert((exactTop & quantTop).size >= 15, s"overlap ${(exactTop & quantTop).size}")
  }

  test("LSH near-dup pairs are a subset of exact near-dup pairs (verify step)") {
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001).filter($"vec_id" < 200)
    val lsh = Similarity.cosineNearDupPairs(e, "embedding", "vec_id", 0.3, nPlanes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = e.select($"vec_id".as("id_a"), $"embedding".as("v_a"))
    val b = e.select($"vec_id".as("id_b"), $"embedding".as("v_b"))
    val exact = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("cos", Similarity.cosine($"v_a", $"v_b"))
      .filter($"cos" >= 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
  }

  test("semanticDedup: labels are the connected components of semanticPairs") {
    import graft.functions.IVF
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val model = IVF.train(e, "embedding", "vec_id", k = 8)
    val pairs = Similarity.semanticPairs(e, "embedding", "vec_id", model, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val out = Similarity.semanticDedup(e, "embedding", "vec_id", model, 0.4)
      .select("vec_id", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect()
    // independent union-find over the same pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id per component == cluster_id; keep iff id is its own root
    val comp = out.map(_._1).groupBy(find).map { case (r, ids) => r -> ids.min }
    out.foreach { case (id, cluster, keep) =>
      assert(cluster == comp(find(id)), s"vec $id")
      assert(keep == (id == cluster), s"keep flag of $id")
    }
    // the pair graph is non-trivial and so is the dedup
    assert(pairs.nonEmpty && out.count(!_._3) > 0)
  }

  test("semanticPairs is cell-blocked: a subset of exact cosine pairs") {
    import graft.functions.IVF
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001).filter($"vec_id" < 200)
    val model = IVF.train(e, "embedding", "vec_id", k = 4)
    val got = Similarity.semanticPairs(e, "embedding", "vec_id", model, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = e.select($"vec_id".as("id_a"), $"embedding".as("v_a"))
    val b = e.select($"vec_id".as("id_b"), $"embedding".as("v_b"))
    val exact = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("cos", Similarity.cosine($"v_a", $"v_b"))
      .filter($"cos" >= 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got.subsetOf(exact))
  }

  test("semanticKeepCentral: survivor is the cluster member closest to its centroid") {
    import graft.functions.IVF
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val model = IVF.train(e, "embedding", "vec_id", k = 8)
    val out = Similarity.semanticKeepCentral(e, "embedding", "vec_id", model, 0.4)
      .select("cluster_id", "keep_id", "n_members")
      .as[(Long, Long, Long)].collect()
    val clusters = Similarity.semanticDedup(e, "embedding", "vec_id", model, 0.4)
      .select("vec_id", "cluster_id").as[(Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val d2 = IVF.outlierScores(e, "embedding", "vec_id", model)
      .select("vec_id", "dist2").as[(Long, Double)].collect().toMap
    assert(out.map(_._1).toSet == clusters.keySet)
    out.foreach { case (cid, keep, n) =>
      val members = clusters(cid)
      assert(n == members.size && members(keep), s"cluster $cid")
      // argmin by (dist2, id)
      val want = members.minBy(id => (d2(id), id))
      assert(keep == want, s"cluster $cid: $keep vs $want")
    }
    // at least one multi-member cluster exercises the argmin
    assert(out.exists(_._3 > 1))
  }

  test("semanticPairsAgainstIndex: prunes cell partitions, matches in-memory cross-batch pairs") {
    import graft.functions.IVF
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val model = IVF.train(e, "embedding", "vec_id", k = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf-semdedup").toString
    IVF.writeIndexed(e, "embedding", "vec_id", model, dir)
    val incoming = e.filter($"vec_id" % 5 === 0)
    val corpus = spark.read.parquet(dir).filter($"vec_id" % 5 =!= 0)
    val got = Similarity.semanticPairsAgainstIndex(incoming, corpus,
      "embedding", "vec_id", model, 0.4)
    // the touched-cell predicate must reach the scan as partition pruning
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"), plan)
    // equivalence: same-cell cross-batch cosine pairs computed in memory
    val celled = e.withColumn("_cell", IVF.assign($"embedding", model))
    val a = celled.filter($"vec_id" % 5 === 0)
      .select($"_cell", $"vec_id".as("id_new"), $"embedding".as("va"))
    val b = celled.filter($"vec_id" % 5 =!= 0)
      .select($"_cell", $"vec_id".as("id_corpus"), $"embedding".as("vb"))
    val want = a.join(b, Seq("_cell"))
      .withColumn("cos", Similarity.cosine($"va", $"vb"))
      .filter($"cos" >= 0.4)
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    val gotSet = got.select("id_new", "id_corpus")
      .as[(Long, Long)].collect().toSet
    assert(gotSet == want && gotSet.nonEmpty)
  }

  test("groupOverlap: planted shared/disjoint sources get exact jaccard") {
    val d = Seq(
      (1L, "sA", "alpha beta gamma delta"),   // grams: {abc, bcd} (2)
      (2L, "sB", "alpha beta gamma epsilon"), // shares {alpha beta gamma} with sA
      (3L, "sC", "zeta eta theta iota"))      // disjoint
      .toDF("doc_id", "source", "text")
    val out = Dedup.groupOverlap(d, "source", "text", k = 3)
      .select("grp_a", "grp_b", "n_a", "n_b", "n_shared", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // sA grams: {alpha beta gamma, beta gamma delta}; sB: {alpha beta gamma,
    // beta gamma epsilon}; shared = 1, union = 3
    assert(out(("sA", "sB")) == (("sA", "sB", 2L, 2L, 1L, 1.0 / 3.0)))
    // zero-overlap pairs never materialize (inverted index)
    assert(!out.contains(("sA", "sC")) && !out.contains(("sB", "sC")))
  }

  test("groupMinhashSimilarity: identical groups estimate 1.0, estimates track exact jaccard") {
    val d = Seq(
      (1L, "sA", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "sB", "alpha beta gamma delta epsilon zeta eta theta"), // == sA
      (3L, "sC", "iota kappa lambda mu nu xi omicron pi"))         // disjoint
      .toDF("doc_id", "source", "text")
    val est = Dedup.groupMinhashSimilarity(d, "source", "text",
        k = 3, numHashes = 16)
      .select("grp_a", "grp_b", "est_jaccard")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(est(("sA", "sB")) == 1.0)  // identical shingle sets -> all minima agree
    assert(est(("sA", "sC")) <= 0.25) // disjoint sets -> agreement is hash luck only
    // on the real corpus the estimate tracks the exact overlap within
    // sketch noise (sd = sqrt(J(1-J)/16) <= 0.125)
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val exact = Dedup.groupOverlap(docs, "source", "text", k = 3)
      .select("grp_a", "grp_b", "jaccard")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val sketch = Dedup.groupMinhashSimilarity(docs, "source", "text", 3, 16)
      .select("grp_a", "grp_b", "est_jaccard")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val errs = exact.keys.map(k => math.abs(sketch(k) - exact(k)))
    assert(errs.max <= 0.45 && errs.sum / errs.size <= 0.15,
      s"mean=${errs.sum / errs.size} max=${errs.max}")
  }

  test("outlierScores: cell matches assign(), distance is the true squared-L2 minimum") {
    import graft.functions.IVF
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val model = IVF.train(e, "embedding", "vec_id", k = 8)
    val got = IVF.outlierScores(e, "embedding", "vec_id", model)
      .select("vec_id", "ivf_cell", "dist2")
      .as[(Long, Int, Double)].collect()
    val cells = e.select($"vec_id",
        IVF.assign($"embedding", model).as("c"))
      .as[(Long, Int)].collect().toMap
    val vecs = e.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    got.foreach { case (id, cell, d2) =>
      assert(cell == cells(id)) // assignment and distance cannot disagree
      // recompute the min squared-L2 independently (plain double loops)
      val v = vecs(id).map(_.toDouble)
      val want = model.centroids.map { c =>
        var s = 0.0; var i = 0
        while (i < c.size) { val d = v(i) - c(i); s += d * d; i += 1 }
        s
      }.min
      // engine computes |v|^2 - 2 v.c + |c|^2 (one pass per cell); the
      // expanded form differs from (v-c)^2 folding only in float grouping
      assert(math.abs(d2 - want) <= 1e-9 * math.max(1.0, want), s"vec $id")
    }
    assert(got.nonEmpty && got.forall(_._3 >= -1e-12))
  }

  test("overlapsBloom is row-identical to the exact overlaps join") {
    import graft.functions.Decontam
    val docs = Tables.documents(spark, GraftTestSpark.Sf0001)
    val bench = docs.filter($"doc_id" % 20 === 0)
    val exact = Decontam.overlaps(docs, "doc_id", "text",
        bench, "doc_id", "text", k = 5)
      .as[(Long, Long)].collect().toSet
    val bloom = Decontam.overlapsBloom(docs, "doc_id", "text",
        bench, "doc_id", "text", k = 5)
      .as[(Long, Long)].collect().toSet
    assert(bloom == exact) // no false negatives, exact verify join
    assert(exact.nonEmpty)
  }

  test("hardNegatives: k per query, labels differ, top-1 is the different-label argmax") {
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val q = e.filter($"vec_id" < 4)
    val got = Similarity.hardNegatives(e, q, "embedding", "vec_id", "label", k = 3)
      .collect()
    assert(got.length == 12) // 4 queries x k=3
    val labels = e.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    got.foreach { r =>
      val (qid, neg) = (r.getLong(0), r.getLong(1))
      assert(labels(neg) != labels(qid), s"negative $neg shares label with query $qid")
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 3)
    }
    // top-1 for query 0 beats every other different-label candidate
    val vecs = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.reduceLeft(_ + _)
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).reduceLeft(_ + _)) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).reduceLeft(_ + _)))
    }
    val best = got.filter(r => r.getLong(0) == 0L && r.getInt(3) == 1).head
    val want = vecs.collect { case (id, v) if labels(id) != labels(0L) =>
      cos(vecs(0L), v) }.max
    assert(math.abs(best.getDouble(2) - want) < 1e-12)
  }

  test("semanticDecontam: flags exactly the vectors whose max bench cosine crosses the threshold") {
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val bench = e.filter($"vec_id" < 20)
    val got = Similarity.semanticDecontam(e.filter($"vec_id" >= 20), bench,
        "embedding", "vec_id", threshold = 0.35)
      .as[(Long, Double, Boolean)].collect()
    assert(got.length == e.count() - 20)
    got.foreach { case (_, mc, flag) => assert(flag == (mc >= 0.35)) }
    // a bench member planted into the corpus side must flag at cos = 1
    val planted = Similarity.semanticDecontam(e.filter($"vec_id" < 20), bench,
        "embedding", "vec_id", threshold = 0.99)
      .as[(Long, Double, Boolean)].collect()
    assert(planted.forall(_._3), "self-match must always contaminate")
  }

  test("winnowing: shared runs >= w+k-1 words share a fingerprint; density ~2/(w+1)") {
    import graft.functions.TextAnalysis
    val shared = "alpha beta gamma delta epsilon zeta" // 6 = w+k-1 words
    val docs = Seq(
      (1L, "one two three " + shared + " four five six"),
      (2L, "seven eight " + shared + " nine ten eleven twelve"),
      (3L, "totally different words with no common run at all here"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .as[(Long, Int, Long)].collect()
    def fps(id: Long) = fp.filter(_._1 == id).map(_._3).toSet
    assert((fps(1L) & fps(2L)).nonEmpty, "guaranteed shared fingerprint missed")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // density: selected fingerprints are a small fraction of all grams
    val corpus = Tables.documents(spark, GraftTestSpark.Sf0001)
    val nGrams = corpus.select(
        greatest(size(split($"text", " ")) - 2, lit(0)).cast("long"))
      .as[Long].collect().sum
    val nSel = TextAnalysis.winnowFingerprints(corpus, "doc_id", "text").count()
    assert(nSel < nGrams * 0.6 && nSel > nGrams * 0.2,
      s"$nSel of $nGrams grams selected") // expected ~2/(w+1) = 0.4
  }

  test("winnowOverlapPairs/editVerifiedPairs: clique-collapsed results " +
    "equal the raw doc-keyed formulation on a corpus with exact-dup cliques") {
    import graft.functions.TextAnalysis
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma" // long run: >= 2 shared fps
    val base = Seq(
      1L -> ("one two three " + shared + " four five six"),
      2L -> ("seven eight " + shared + " nine ten eleven"),
      3L -> "totally different words with no common run at all here",
      4L -> "short one")
    // plant a 3-clique of doc 1 and a 2-clique of doc 3
    val docs = (base ++ Seq(11L -> base(0)._2, 12L -> base(0)._2,
      13L -> base(2)._2)).toDF("doc_id", "text")
    // raw doc-keyed reference formulation (the pre-round-10 plan)
    val fp = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", 3, 4)
      .select($"doc_id", $"fp").distinct()
    val rawPairs = fp.select($"doc_id".as("id_a"), $"fp")
      .join(fp.select($"doc_id".as("id_b"), $"fp"), Seq("fp"))
      .filter($"id_a" < $"id_b")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared_fps"))
      .filter($"n_shared_fps" >= 2)
    val rawOverlap = rawPairs.as[(Long, Long, Long)].collect().toSet
    // dup factor 7/4 = 1.75 clears the 1.3 threshold, so auto picks the
    // collapsed plan here; force it anyway so this parity pin survives
    // threshold tuning
    val gotOverlap = TextAnalysis.winnowOverlapPairs(docs, "doc_id", "text",
        collapseCliques = Some(true))
      .as[(Long, Long, Long)].collect().toSet
    assert(gotOverlap == rawOverlap)
    // the planted 3-clique must appear as all three within pairs
    assert(Set((1L, 11L), (1L, 12L), (11L, 12L))
      .subsetOf(gotOverlap.map(t => (t._1, t._2))))
    val rawEdit = rawPairs
      .join(docs.select($"doc_id".as("id_a"),
        substring($"text", 1, 80).as("_ta")), Seq("id_a"))
      .join(docs.select($"doc_id".as("id_b"),
        substring($"text", 1, 80).as("_tb")), Seq("id_b"))
      .select($"id_a", $"id_b", $"n_shared_fps",
        levenshtein($"_ta", $"_tb").cast("long").as("edit_dist"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val gotEdit = TextAnalysis.editVerifiedPairs(docs, "doc_id", "text",
        collapseCliques = Some(true))
      .as[(Long, Long, Long, Long)].collect().toSet
    // and the RAW path the adaptive chooser picks on deduped corpora is
    // the reference formulation itself — pin it through the public API
    val gotEditRaw = TextAnalysis.editVerifiedPairs(docs, "doc_id", "text",
        collapseCliques = Some(false))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(gotEditRaw == rawEdit)
    assert(gotEdit == rawEdit)
    // within-clique distances are 0; the cross pair (1,2) is nonzero
    assert(gotEdit.filter(t => Set((1L, 11L), (1L, 12L), (11L, 12L))
      .contains((t._1, t._2))).forall(_._4 == 0L))
    assert(gotEdit.find(t => t._1 == 1L && t._2 == 2L).exists(_._4 > 0L))
  }

  test("cdcChunks: chunks tile the document exactly and boundaries are content-local") {
    import graft.functions.TextAnalysis
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    // same content with 2 tokens inserted at the FRONT: every chunk
    // beyond the first boundary after the edit must re-appear unchanged
    val edited = "zzz yyy " + base
    val docs = Seq((1L, base), (2L, edited), (3L, "short doc"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.cdcChunks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getString(4)))
    // tiling: contiguous spans covering 1..n per doc
    Seq(1L -> 60, 2L -> 62, 3L -> 2).foreach { case (id, n) =>
      val cs = rows.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 1 && cs.map(_._4).sum == n)
      cs.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4)
        case _ =>
      }
    }
    // reconstruct: chunk md5s of doc 1's own slices
    val toks = base.split(" ")
    rows.filter(_._1 == 1L).foreach { case (_, _, st, ln, m) =>
      val expect = docs.sparkSession.range(1)
        .select(md5(lit(toks.slice(st - 1, st - 1 + ln).mkString(" "))))
        .head().getString(0)
      assert(m == expect)
    }
    // self-synchronization: the edited doc re-shares every chunk of the
    // base doc except those overlapping the edit region (first chunk)
    val baseHashes = rows.filter(_._1 == 1L).map(_._5).toSet
    val editHashes = rows.filter(_._1 == 2L).map(_._5).toSet
    val shared = baseHashes intersect editHashes
    assert(shared.size >= baseHashes.size - 1,
      s"shared ${shared.size} of ${baseHashes.size}")
    // a 2-token doc (< w) is exactly one chunk
    assert(rows.count(_._1 == 3L) == 1)
  }

  test("suffixRanks: prefix-doubling ranks == brute-force suffix sort, ties on dup docs") {
    import graft.functions.SuffixArray
    val docs = Seq(
      (1L, "b a n a n a"),
      (2L, "a n a b"),
      (3L, "b a n a n a"), // exact dup of doc 1 -> tied ranks throughout
      (4L, "n a b a")).toDF("doc_id", "text")
    val got = SuffixArray.suffixRanks(docs, "doc_id", "text", nParts = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // brute force: dense rank of space-joined suffix strings
    val suffixes = Seq(1L -> "b a n a n a", 2L -> "a n a b",
      3L -> "b a n a n a", 4L -> "n a b a").flatMap { case (id, t) =>
      val tk = t.split(" ")
      tk.indices.map(i => (id, i + 1, tk.drop(i).mkString(" ")))
    }
    val ordered = suffixes.map(_._3).distinct.sorted
    val rankOf = ordered.zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap
    suffixes.foreach { case (id, pos, s) =>
      assert(got((id, pos)) == rankOf(s), s"($id,$pos) '$s'")
    }
    // duplicate docs share every rank
    (1 to 6).foreach(p => assert(got((1L, p)) == got((3L, p))))
  }

  test("suffixRanks: degenerate corpora — empty, single-token, all-identical") {
    import graft.functions.SuffixArray
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(SuffixArray.suffixRanks(empty, "doc_id", "text", nParts = 4)
      .collect().isEmpty)
    val one = Seq((1L, "solo")).toDF("doc_id", "text")
    assert(SuffixArray.suffixRanks(one, "doc_id", "text", nParts = 4)
      .collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      == Seq((1L, 1, 1L)))
    // 3 identical docs: the clique collapse runs the loop on ONE rep;
    // expansion restores all 9 rows with tied ranks
    val same = Seq((1L, "x y z"), (2L, "x y z"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val got = SuffixArray.suffixRanks(same, "doc_id", "text", nParts = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.size == 9)
    // ranks by suffix string: "x y z" > "y z" > "z" -> z=1? lexicographic:
    // "x y z" < "y z" < "z" so pos1 -> 1, pos2 -> 2, pos3 -> 3, same per doc
    (1L to 3L).foreach { d =>
      assert(got((d, 1)) == 1L && got((d, 2)) == 2L && got((d, 3)) == 3L)
    }
  }

  /** (doc_id, pos) -> suffix_rank of a suffix-array frame. */
  private def rankMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

  /** The incremental merge of `delta` into a fresh build over `old`,
    * under the delta-local seat budget (rows, UTF-8 text bytes). */
  private def merged(old: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame, budget: (Long, Long)) = {
    import graft.functions.SuffixArray
    val base = SuffixArray.suffixRanks(old, "doc_id", "text", nParts = 4)
    rankMap(SuffixArray.mergeFrom(
      SuffixArray.suffixMergeReps(base, old, "doc_id", "text"), base, old,
      delta, "doc_id", "text", nParts = 4, localMaxRows = budget._1,
      localMaxBytes = budget._2))
  }

  /** The merge's three terminal paths: the default (delta-local seat —
    * every fixture below is driver-sized, so it engages), the forced
    * DISTRIBUTED rounds (the 100-TB path past the driver budget must not
    * rot behind small fixtures), and the round-1 byte-budget DECLINE
    * (the seat measures, declines, and falls through mid-loop). */
  private def mergePaths = {
    import graft.functions.SuffixArray.{LocalMaxBytes, LocalMaxRows}
    Seq("default" -> (LocalMaxRows, LocalMaxBytes),
      "distributed" -> (0L, LocalMaxBytes),
      "decline" -> (LocalMaxRows, 0L))
  }

  test("suffixRanksIncremental: merge == full rebuild across every delta shape") {
    import graft.functions.SuffixArray
    val oldDocs = Seq(
      (1L, "b a n a n a"),
      (2L, "a n a b"),
      (3L, "b a n a n a"), // old-internal exact dup
      (4L, "n a b a")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "b a n a n a"),       // exact dup of an old text (fast path)
      (11L, "b a n a n a q"),     // shares the whole old doc as prefix
      (12L, "a n a b"),           // another old dup
      (13L, "c c c"),             // entirely new vocabulary
      (14L, "b a n a n a q"),     // new-new exact dup
      (15L, "n a b"),             // proper prefix of an old text
      (16L, "A a n")).toDF("doc_id", "text") // 'A' < 'a': suffixes
      // inserting BEFORE every old rank (the t=1 / offset-at-origin seat)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // non-BMP pin: supplementary-plane U+1F600 (UTF-8 F0..) and U+E000
    // (UTF-8 EE..) sort DIFFERENTLY under Java's UTF-16 code-unit order
    // (surrogate 0xD83D < 0xE000) vs Spark's binary UTF-8 (F0 > EE) —
    // the delta-local seat's driver comparator must follow the engine
    val emo = "\uD83D\uDE00" // U+1F600 as a surrogate pair
    val pua = "\uE000"         // private-use BMP, 3-byte UTF-8
    val uniOld = Seq(
      (1L, s"$pua a b"), (2L, s"$emo a b"), (3L, s"z $pua $emo"),
      (4L, s"a $emo $pua b")).toDF("doc_id", "text")
    val uniDelta = Seq(
      (10L, s"$emo z"), (11L, s"$pua $emo q"), (12L, s"$emo a b"),
      (13L, s"$pua$pua c")).toDF("doc_id", "text")
    // null texts have no suffixes; an empty text is one empty suffix
    val nullOld = Seq[(Long, String)]((1L, "a b c"), (2L, null), (3L, ""),
      (4L, "b c")).toDF("doc_id", "text")
    val nullDelta = Seq[(Long, String)]((10L, null), (11L, ""),
      (12L, "a b d"), (13L, "c")).toDF("doc_id", "text")
    val shapes = Seq(
      ("mixed delta", oldDocs, delta),
      ("empty delta", oldDocs, empty),
      ("non-BMP", uniOld, uniDelta),
      ("empty old corpus", empty, delta),
      ("empty old corpus, empty delta", empty, empty),
      ("null and empty texts", nullOld, nullDelta))
    for ((shape, old, d) <- shapes) {
      val want = rankMap(SuffixArray.suffixRanks(old.unionAll(d),
        "doc_id", "text", nParts = 4))
      for ((path, budget) <- mergePaths)
        assert(merged(old, d, budget) == want, s"[$shape] via $path")
    }
  }

  test("suffixRanksIncremental: a round-1 byte-budget decline is FINAL — no round >= 2 seat engagement (r16 advice, high)") {
    // resolveDeltaLocal assumes ROUND-1 groups (_kr = round-1 rank, _nor
    // = next old rank after the round-1 group). After a round-2+ split,
    // anchored sibling subgroups of the same round-1 group can rank
    // between a new-only class and _nor — only the distributed seat's
    // global window sees them — so an engagement at round >= 2 returns
    // wrong ranks, and the seat is attempted at round 1 only. This
    // fixture makes a round-2 engagement possible and wrong:
    //   - the 200-token repeated prefix forces a >= 3-round merge (full
    //     need 193 > 16x the seedK-8 coverage, so round 2 takes the
    //     geometric fetch and still escalates), and round 2 splits the
    //     "a" group so that new-only "a^k z" classes sit right before
    //     old "a^(k-1) x" anchors in OTHER round-2 groups;
    //   - the "h" pair escalates in round 1 only, and its ~3 KB old text
    //     puts round 1's escalator bytes (~4.3 KB) over the 2 KB budget
    //     while round 2's (~1.2 KB, the three "a" texts) fit under it.
    import graft.functions.SuffixArray
    val prefix = Seq.fill(200)("a").mkString(" ")
    val h8 = Seq.fill(8)("h").mkString(" ")
    val longTail = (1 to 20).map(i => s"w$i" + "q" * 148).mkString(" ")
    val oldDocs = Seq(
      (1L, s"$prefix x"),
      (2L, s"$prefix y"),
      (3L, s"$h8 $longTail"),
      (4L, "b c d")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, s"$prefix z"),
      (11L, s"$h8 k"),
      (12L, "b c q")).toDF("doc_id", "text")
    val want = rankMap(SuffixArray.suffixRanks(oldDocs.unionAll(delta),
      "doc_id", "text", nParts = 4))
    assert(merged(oldDocs, delta, (SuffixArray.LocalMaxRows, 2000L)) == want,
      "a round-1 decline re-attempted the delta-local seat in round >= 2")
    // the same fixture through the other two paths
    for ((path, budget) <- mergePaths)
      assert(merged(oldDocs, delta, budget) == want, path)
  }

  test("suffixRanksIncremental: degenerate deltas — empty delta, all-dup delta") {
    import graft.functions.SuffixArray
    val oldDocs = Seq((1L, "x y z"), (2L, "y z x")).toDF("doc_id", "text")
    val base = SuffixArray.suffixRanks(oldDocs, "doc_id", "text", nParts = 4)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val gotEmpty = SuffixArray.suffixRanksIncremental(base, oldDocs, empty,
        "doc_id", "text", nParts = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val want = base.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gotEmpty == want)
    val dups = Seq((9L, "x y z")).toDF("doc_id", "text")
    val gotDup = SuffixArray.suffixRanksIncremental(base, oldDocs, dups,
        "doc_id", "text", nParts = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gotDup == want ++ Seq((9L, 1) -> want((1L, 1)),
      (9L, 2) -> want((1L, 2)), (9L, 3) -> want((1L, 3))))
  }

  test("suffixRepeats: adjacent-rank LCP census surfaces the planted repeat") {
    import graft.functions.SuffixArray
    val shared = "x y z w v u t s" // 8-token run planted in two docs
    val docs = Seq(
      (1L, s"a b $shared c d"),
      (2L, s"e f g $shared h"),
      (3L, "p q r unrelated words here")).toDF("doc_id", "text")
    val rows = SuffixArray.suffixRepeats(docs, "doc_id", "text",
        cap = 10, topK = 5, nParts = 4)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    // the top entry is the planted run: suffixes starting at the shared
    // region in docs 1 and 2 are lexicographic neighbors with LCP >= 8
    val top = rows.head
    assert(Set(top._1, top._3) == Set(1L, 2L), top.toString)
    assert(top._5 >= 8, top.toString)
  }

  test("suffixDupSpans: planted cross-doc run and dup docs flagged, unique doc clean") {
    import graft.functions.SuffixArray
    val run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10" // 10-token shared run
    val docs = Seq(
      (1L, s"a b $run c"),
      (2L, s"d $run e f"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"), // all-unique tokens
      (4L, s"a b $run c")) // exact dup of doc 1
      .toDF("doc_id", "text")
    val out = SuffixArray.suffixDupSpans(docs, "doc_id", "text",
        minRun = 8, cap = 30, nParts = 4)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    // docs 1/4 are identical: EVERY suffix is a whole-suffix duplicate,
    // so dup starts = positions with >= 8 remaining tokens = 13-8+1 = 6
    // per the >= 8 maxl rule... every suffix of len >= 8 counts; shorter
    // suffixes still tie (maxl = slen < 8). 13 tokens -> 6 positions.
    assert(out(1L) == out(4L))
    assert(out(1L)._1 == 6 && out(1L)._2 >= 8, out(1L).toString)
    // doc 2 shares the 10-token run: suffixes starting at 'd'? no —
    // starting at r1..r3 keep >= 8 common tokens with doc 1's run
    // (run + differing continuation: LCP 10, 9, 8 at r1, r2, r3)
    assert(out(2L)._1 == 3 && out(2L)._2 == 10, out(2L).toString)
    // doc 3 shares nothing 8 tokens long
    assert(out(3L)._1 == 0, out(3L).toString)
  }

  test("suffixSpansRemove: planted run cut, unique doc untouched, shared build == one-shot") {
    import graft.functions.SuffixArray
    val run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val docs = Seq(
      (1L, s"a b $run c"),
      (2L, s"d $run e f"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"))
      .toDF("doc_id", "text")
    val out = SuffixArray.suffixSpansRemove(docs, "doc_id", "text", minRun = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // doc 3: nothing duplicated >= 8 tokens — text passes through verbatim
    assert(out(3L) == (("u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12", 0)))
    // doc 1: starts at r1/r2/r3 qualify (LCP 10/9/8 with doc 2's run),
    // covering r1..r10 exactly — the full run is cut, 'a b'/'c' survive
    assert(out(1L) == (("a b c", 10)), out(1L).toString)
    // doc 2: same starts, run cut, 'd'/'e f' survive
    assert(out(2L) == (("d e f", 10)), out(2L).toString)
    // the shared-build form is the one-shot form by construction: the
    // ranks frame round-trips through parquet in the catalog, so pin the
    // From-variant on a written-and-read build too
    val tmp = java.nio.file.Files.createTempDirectory("graft-sa").toString
    SuffixArray.suffixRanks(docs, "doc_id", "text", nParts = 4)
      .write.mode("overwrite").parquet(tmp)
    val viaBuild = SuffixArray.suffixSpansRemoveFrom(
        spark.read.parquet(tmp), docs, "doc_id", "text", minRun = 8, cap = 30)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(viaBuild == out)
  }

  test("suffixSpansRemove (no array) == suffixSpansRemoveFrom(suffixRanks) on edge corpora, every (minRun, cap)") {
    import graft.functions.SuffixArray
    val rnd = new scala.util.Random(11)
    def words(n: Int, vocab: Int) = Seq.fill(n)("w" + rnd.nextInt(vocab)).mkString(" ")
    val run45 = (1 to 45).map("s" + _).mkString(" ")
    val rep9 = (1 to 9).map("x" + _).mkString(" ")
    val short: Seq[(Long, String)] = Seq(
      (1L, s"$rep9 y $rep9 z"),                       // within-document repeat
      (2L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"),         // exact-duplicate docs
      (3L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"),
      (4L, null),                                     // null text
      (5L, ""), (6L, ""),                             // empty text
      (7L, "p  q r  s t  u"),                         // double spaces
      (8L, "p  q r  s t  u v"),
      (9L, "hi there"), (10L, "hi there"),            // shorter than minRun
      (11L, s"a b $run45 c"), (12L, s"d $run45 e f"), // shared run longer than cap
      (13L, Seq.fill(12)("a").mkString(" "))) ++      // self-overlapping repeat
      (14L to 30L).map(i => (i, words(rnd.nextInt(40), 6)))
    // past 128 tokens, so suffixRanks runs its prefix-doubling loop
    val planted = (1 to 60).map("t" + _).mkString(" ")
    val first = words(150, 40)
    val long: Seq[(Long, String)] =
      (1L to 6L).map(i => (i, words(130 + rnd.nextInt(100), 40))) ++ Seq(
        (7L, s"${words(80, 40)} $planted ${words(70, 40)}"),
        (8L, s"${words(90, 40)} $planted ${words(50, 40)}"),
        (9L, s"$planted ${words(20, 40)} $planted"),
        (10L, first), (11L, first), (12L, null))
    assert(long.flatMap(r => Option(r._2)).map(_.split(" ").length).max > 128)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq.sortBy(_._1)
    for ((name, corpus) <- Seq("short" -> short, "long" -> long)) {
      val df = corpus.toDF("doc_id", "text")
      val ranks = SuffixArray.suffixRanks(df, "doc_id", "text", nParts = 4)
      for ((minRun, cap) <- Seq((8, 30), (3, 3), (1, 5), (5, 40))) {
        val want = rows(SuffixArray.suffixSpansRemoveFrom(ranks, df, "doc_id", "text",
          minRun = minRun, cap = cap))
        val got = rows(SuffixArray.suffixSpansRemove(df, "doc_id", "text", minRun = minRun))
        assert(got == want, s"$name minRun=$minRun cap=$cap: got-only ${got.diff(want)}, " +
          s"want-only ${want.diff(got)}")
        assert(want.size == corpus.size && want.exists(_._3 > 0), s"$name minRun=$minRun")
      }
    }
  }

  test("suffixRanks: reliable-checkpoint seat (spark.graft.checkpointDir) — same ranks, files on disk") {
    import graft.functions.{Checkpoints, SuffixArray}
    val docs = Seq((1L, "b a n a n a"), (2L, "a n a b"), (3L, "b a n a n a"))
      .toDF("doc_id", "text")
    val expected = SuffixArray.suffixRanks(docs, "doc_id", "text", nParts = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    // session-scoped conf: flip on, run, flip off — the doubling loop's
    // round checkpoints must write RELIABLE checkpoint files under dir
    // (the fault-tolerant 100-TB seat) and produce identical ranks
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      val got = SuffixArray.suffixRanks(docs, "doc_id", "text", nParts = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == expected)
      // reliable checkpoints land as rdd-* dirs under a per-context subdir
      val found = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(found > 0, s"no reliable checkpoint files under $dir")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("connectedComponents: reliable-checkpoint seat (spark.graft.checkpointDir) — same clusters, files on disk") {
    import graft.functions.Checkpoints
    val nodes = (0L until 40L).toDF("id")
    val pairs = ((0L until 20L).map(i => (i, i + 1)) ++
      Seq((25L, 26L), (26L, 27L), (30L, 31L))).toDF("id_a", "id_b")
    // driverMaxEdges = 0: the distributed label-propagation loop, the
    // path whose rounds go through Checkpoints.eager
    def clusters() = Dedup.connectedComponents(nodes, "id", pairs,
      driverMaxEdges = 0L).as[(Long, Long)].collect().toMap
    val expected = clusters()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-cc").toString
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      assert(clusters() == expected)
      val found = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(found > 0, s"no reliable checkpoint files under $dir")
    } finally spark.conf.unset(Checkpoints.DirKey)
    assert(expected(20L) == 0L && expected(27L) == 25L && expected(39L) == 39L)
  }

  test("winnow_select: array<int> input fails at analysis time with a clear error") {
    // the native expression validates its child type up front —
    // array<int> must raise an AnalysisException naming the expected
    // type, not a ClassCastException mid-task (round-8 verdict item)
    val df = Seq((1, Seq(1, 2, 3))).toDF("id", "hs")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.plans.WinnowSelect($"hs", 2)).collect()
    }
    assert(e.getMessage.contains("winnow_select") ||
      e.getMessage.toLowerCase.contains("array<bigint>"),
      s"unhelpful error: ${e.getMessage}")
    // and the SQL-registered form fails the same way
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("winnow_select(hs, 2)").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("winnow"), e2.getMessage)
    // the valid form still works: array<long> passes analysis + eval
    val ok = Seq((1L, Seq(5L, 1L, 4L, 2L))).toDF("id", "hs")
      .select(graft.plans.WinnowSelect($"hs", 2).as("fp"))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(ok.nonEmpty)
  }

  test("softWeights: cluster weights are 1e6 div size; singletons keep 1e6") {
    val got = Dedup.softWeights(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // docs 1,2 are exact dups (cluster 2); the rest are singletons
    assert(got.toSeq == Seq(
      (1L, 2L, 500000L), (2L, 2L, 500000L), (3L, 1L, 1000000L),
      (4L, 1L, 1000000L), (5L, 1L, 1000000L), (6L, 1L, 1000000L)))
    // total effective mass = number of distinct texts (in ppm)
    assert(got.map(_._3).sum == 5L * 1000000L)
  }

  test("lshRecallReport: the sample contract rejects over-limit input with guidance") {
    val e = intercept[IllegalArgumentException] {
      Dedup.lshRecallReport(docs, "doc_id", "text", maxDocs = 3).collect()
    }
    assert(e.getMessage.contains("sample"), e.getMessage)
    // within the bound it runs (the gate row covers the numbers)
    assert(Dedup.lshRecallReport(docs, "doc_id", "text").count() == 1)
  }

  test("dimDrift: a constant per-dimension offset on the new slice lands " +
    "exactly in shift_micro; undrifted dims report ~0") {
    val ref = Seq((0L, Seq(0.5f, 1.0f)), (2L, Seq(0.5f, 1.0f)))
    val nw = Seq((1L, Seq(0.75f, 1.0f)), (3L, Seq(0.75f, 1.0f)))
    val df = (ref ++ nw).toDF("vec_id", "embedding")
    val got = Similarity.dimDrift(df, "embedding",
        pmod($"vec_id", lit(2)) === 1, topK = 2)
      .select("dim", "shift_micro").as[(Int, Long)].collect().toMap
    assert(got == Map(1 -> 250000L, 2 -> 0L), got.toString)
  }

  test("bitextMarginMine: one best match per x, margin formula matches brute force") {
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val got = Similarity.bitextMarginMine(e, "embedding", "vec_id", "label",
        labelA = 0, labelB = 1, k = 4, threshold = 1.0)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.map(_._1).distinct.length == got.length, "one row per x")
    assert(got.forall(_._3 >= 1.0))
    // brute-force the margin for the first mined x
    val vecs = e.select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect()
    def cosM(a: Seq[Float], b: Seq[Float]): Long = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.reduceLeft(_ + _)
      val c = d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).reduceLeft(_ + _)) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).reduceLeft(_ + _)))
      math.floor(c * 1e6 + 0.5).toLong
    }
    val (x, y, margin) = got.minBy(_._1)
    val xa = vecs.find(_._1 == x).get._2
    val bs = vecs.filter(_._3 == 1).map(v => (v._1, cosM(xa, v._2)))
    val denA = bs.sortBy(t => (-t._2, t._1)).take(4).map(_._2).sum
    val yb = vecs.find(_._1 == y).get._2
    val as = vecs.filter(_._3 == 0).map(v => (v._1, cosM(v._2, yb)))
    val denB = as.sortBy(t => (-t._2, t._1)).take(4).map(_._2).sum
    val want = cosM(xa, yb) * 8.0 / (denA + denB)
    assert(math.abs(margin - want) < 1e-12, s"$margin vs $want")
  }

  test("overlapsCharGrams: shared region >= k+stride-1 always detected, disjoint never") {
    import graft.functions.Decontam
    val shared = "x" * 12 + "SHARED SEGMENT THAT IS WELL OVER THIRTY SIX CHARS LONG" + "y" * 12
    val corpus = Seq(
      (1L, "prefix words here " + shared + " suffix words"),
      (2L, "totally disjoint content with no common substring at all zzzz"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "other frame " + shared + " trailing")).toDF("doc_id", "text")
    val got = Decontam.overlapsCharGrams(corpus, "doc_id", "text",
        bench, "doc_id", "text", k = 30, stride = 7)
      .as[(Long, Long)].collect().toMap
    assert(got.contains(1L) && got(1L) >= 1, s"planted overlap missed: $got")
    assert(!got.contains(2L), "disjoint doc falsely flagged")
    // bench members themselves are excluded from the report
    val self = Decontam.overlapsCharGrams(bench, "doc_id", "text",
        bench, "doc_id", "text", k = 30, stride = 7).count()
    assert(self == 0)
  }

  test("matryoshka truncation: recall non-decreasing-ish and exactly 1.0 at full dim") {
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val q = e.filter($"vec_id" === 0).head().getSeq[Float](1)
    val full = Similarity.bruteForceTopK(e, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val recalls = Seq(8, 64).map { d =>
      val qd = array(q.take(d).map(v => lit(v)): _*)
      val top = e.select($"vec_id",
          Similarity.cosine(slice($"embedding", 1, d), qd).as("cos"))
        .orderBy($"cos".desc, $"vec_id").limit(10).select("vec_id")
        .as[Long].collect().toSet
      (top & full).size / 10.0
    }
    assert(recalls.last == 1.0, "full-dim truncation must reproduce the exact ranking")
    assert(recalls.head <= recalls.last)
  }

  test("rpProject: ±1 signs, 8 dims out, norms preserved in expectation, self-match on top") {
    val e = Tables.embeddings(spark, GraftTestSpark.Sf0001)
    val signs = Similarity.rpSigns(8, 64)
    assert(signs.size == 8 && signs.forall(_.size == 64))
    assert(signs.flatten.forall(s => s == 1.0 || s == -1.0))
    val proj = e.select($"vec_id",
      Similarity.rpProject($"embedding", signs).as("p"))
    assert(proj.head().getSeq[Double](1).size == 8)
    // JL with ±1 signs: E[|y|²] = outDim·|v|² — the per-vector ratio is a
    // chi-square_8/8 draw, but its MEAN over 500 vectors concentrates hard
    val ratio = proj.join(e.select($"vec_id", $"embedding"), "vec_id")
      .select((Similarity.dot($"p", $"p") /
        (lit(8.0) * Similarity.dot($"embedding", $"embedding"))).as("r"))
      .agg(avg($"r")).head().getDouble(0)
    assert(ratio > 0.8 && ratio < 1.2, s"norm ratio $ratio")
    // the projected self-match is exact: cos(p0, p0) = 1 tops the ranking
    val qp = proj.filter($"vec_id" === 0).head().getSeq[Double](1)
    val top = proj.select($"vec_id",
        Similarity.cosine($"p", array(qp.map(lit): _*)).as("cos"))
      .orderBy($"cos".desc, $"vec_id").limit(1).select("vec_id")
      .as[Long].head()
    assert(top == 0L, "projection preserves the self-match")
  }

  test("lshRecallReport: identical duplicates are always recalled; " +
    "disjoint docs are never candidates") {
    // three exact-dup pairs (jaccard 1.0 -> identical signatures -> every
    // band matches -> guaranteed candidates) + disjoint filler docs
    val docs = (Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six seven"),
      (5L, "red orange yellow green blue indigo"),
      (6L, "red orange yellow green blue indigo")) ++
      (7L to 20L).map(i => (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e")))
      .toDF("doc_id", "text")
    val r = graft.functions.Dedup.lshRecallReport(docs, "doc_id", "text",
        k = 3, numHashes = 8, bandRows = 2, threshold = 0.8)
      .as[(Long, Long, Long, Long, Long)].head()
    val (nExact, nCand, nTp, recall, precision) = r
    assert(nExact == 3L)
    assert(nTp == 3L && recall == 1000L,
      s"identical dups must all be recalled: $r")
    assert(nCand >= 3L && precision <= 1000L)
  }

  test("skewAdvisor: heavy keys get exact counts, shares, and salt factors") {
    val rows = Seq.fill(1000)("hot") ++ Seq.fill(500)("warm") ++
      (0 until 100).map(i => s"cold_$i")
    val out = graft.functions.Stats.skewAdvisor(rows.toDF("k"), "k",
        minCount = 400L, targetPerTask = 300L)
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    // total = 1600: hot 1000 -> 625 permille, salt ceil(1000/300)=4
    assert(out == Map(
      "hot" -> ((1000L, 625L, 4L)),
      "warm" -> ((500L, 312L, 2L))))
  }

  test("rrfFuse: hand-computed fixture — docs in both lists outrank " +
    "docs in one, integer contributions exact") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val b = Seq((2L, 1), (3L, 2), (4L, 3)).toDF("id", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), "id", "rank", k0 = 60, topK = 10)
      .select("id", "rrf_score_ppm", "n_lists", "rank")
      .as[(Long, Long, Long, Int)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // 1e6 div 61 = 16393, div 62 = 16129, div 63 = 15873
    assert(got(2L) == ((16393L + 16129L, 2L, 1)))
    assert(got(3L) == ((15873L + 16129L, 2L, 2)))
    assert(got(1L) == ((16393L, 1L, 3)))
    assert(got(4L) == ((15873L, 1L, 4)))
  }

  test("rrfFuse: topK truncates by fused score with id tie-break") {
    val a = Seq((10L, 1), (20L, 1)).toDF("id", "rank") // same contribution
    val got = Similarity.rrfFuse(Seq(a), "id", "rank", topK = 1)
      .select("id").as[Long].collect()
    assert(got.toSeq == Seq(10L)) // tie -> smaller id first
  }

  test("retrievalMrr: hand-built ranks — first relevant at 1, 3, and " +
    "absent give ppm 1000000, 333333, 0") {
    // query 0 (label 0): nearest is 10 (label 0) -> rank 1, rr 1e6
    // query 1 (label 1): ranking is 10 (l0), 0 (l0), 11 (l1)
    //   -> first relevant rank 3, rr 1e6 div 3
    // query 2 (label 2): no label-2 vector in the corpus -> rr 0
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 1),
      (2L, Array(-1.0f, 0.5f), 2),
      (10L, Array(0.95f, 0.05f), 0),
      (11L, Array(0.8f, 0.2f), 1),
      (12L, Array(0.0f, 1.0f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.retrievalMrr(vecs,
        vecs.filter($"vec_id" < 3), "embedding", "vec_id", "label", k = 10)
      .as[(Int, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(0) == ((1L, 1000000L)))
    assert(got(1) == ((1L, 333333L)))
    assert(got(2) == ((1L, 0L)))
  }

  test("retrievalMrr: a relevant vector beyond k scores 0") {
    // corpus: 3 wrong-label vectors closer than the right-label one; k=3
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f), 9),
      (2L, Array(0.98f, 0.02f), 9),
      (3L, Array(0.97f, 0.03f), 9),
      (4L, Array(0.9f, 0.1f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.retrievalMrr(vecs,
        vecs.filter($"vec_id" === 0), "embedding", "vec_id", "label", k = 3)
      .select("mean_rr_ppm").as[Long].head()
    assert(got == 0L)
  }
}
