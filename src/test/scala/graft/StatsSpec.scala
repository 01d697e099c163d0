package graft

import graft.functions.Stats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("anomalousDays: a planted spike flags, steady days don't") {
    // 9 steady days of 10 events + one day of 100: z ~ 2.8 sigma
    val rows = (0 until 9).flatMap(d =>
      (0 until 10).map(i => (f"2024-02-${d + 1}%02d 12:00:00", "click"))) ++
      (0 until 100).map(i => ("2024-02-10 12:00:00", "click"))
    val ev = rows.toDF("ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = Stats.anomalousDays(ev, "ts", "event_type", k = 2)
      .select("day", "is_anomaly").as[(String, Int)].collect().toMap
    assert(out("2024-02-10") == 1)
    assert((1 to 9).forall(d => out(f"2024-02-$d%02d") == 0))
  }

  test("anomalousDays: uniform volume flags nothing") {
    val rows = (0 until 10).flatMap(d =>
      (0 until 10).map(_ => (f"2024-02-${d + 1}%02d 12:00:00", "view")))
    val ev = rows.toDF("ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val flags = Stats.anomalousDays(ev, "ts", "event_type", k = 2)
      .select("is_anomaly").as[Int].collect()
    assert(flags.length == 10 && flags.forall(_ == 0))
  }

  test("heavyHitters: exact counts for heavy keys, long light tail excluded") {
    val rows = (0 until 1000).map(i => s"rare_$i") ++
      Seq.fill(50)("hot_a") ++ Seq.fill(23)("hot_b") ++ Seq.fill(9)("warm")
    val df = rows.toDF("k")
    val out = Stats.heavyHitters(df, "k", minCount = 10L)
      .as[(String, Long)].collect().toMap
    assert(out == Map("hot_a" -> 50L, "hot_b" -> 23L))
  }

  test("psi: identical snapshots score ~0; a shifted distribution scores high") {
    val a = (1 to 1000).map(i => (i % 100).toDouble).toDF("v")
    val same = Stats.psi(a, a, "v", 0.0, 100.0, bins = 10)
      .agg(sum("psi_micronat")).head.getLong(0)
    assert(same == 0L) // p == q bucket-wise, every term is ln(1) = 0
    val shifted = (1 to 1000).map(i => (i % 100).toDouble + 50).toDF("v")
    val drift = Stats.psi(a, shifted, "v", 0.0, 100.0, bins = 10)
      .agg(sum("psi_micronat")).head.getLong(0)
    assert(drift > 200000L, s"psi = $drift micronats") // >> 0.2 threshold
    // clamping: values beyond hi land in the top bucket, not dropped
    val counts = Stats.psi(a, shifted, "v", 0.0, 100.0, bins = 10)
      .agg(sum("n_b")).head.getLong(0)
    assert(counts == 1000L)
  }

  test("expectations: every rule counts its exact violations; nulls split correctly") {
    import graft.functions.Expectations._
    val df = Seq(
      (Some(1L), Some("aa"), Some(10.0)),
      (Some(2L), None, Some(500.0)),      // null text; range violation
      (Some(2L), Some("b7"), Some(50.0)), // dup id; regex violation
      (None: Option[Long], Some("cc"), None)) // null id (not a dup)
      .toDF("id", "t", "v")
    val out = check(df, Seq(
      NotNull("t"), InRange("v", 0, 100), Matches("t", "^[a-z]*$"),
      Unique("id"),
      FkIn("id", Seq(1L).toDF("k"), "k")))
      .as[(String, Long)].collect().toMap
    assert(out("not_null(t)") == 1L)
    assert(out("in_range(v,0.0,100.0)") == 1L) // null v is NOT a range violation
    assert(out("matches(t)") == 1L)            // null t is NOT a regex violation
    assert(out("unique(id)") == 1L)            // one extra copy of id=2; nulls excluded
    assert(out("fk(id)") == 2L)                // both id=2 rows are orphans
  }

  test("profile: counts nulls and distincts per column, min/max as strings") {
    val df = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("a")))
      .toDF("id", "v")
    val p = Stats.profile(df, Seq("id", "v"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(p("id") == (("id", 4L, 0L, 4L, "1", "4")))
    assert(p("v") == (("v", 4L, 1L, 2L, "a", "b")))
  }

  test("groupedExactPercentiles matches the brute-force order statistic") {
    val docs = graft.sources.Tables.documents(spark, GraftTestSpark.Sf0001)
    val fracs = Seq(0.25, 0.5, 0.9, 1.0)
    val got = Stats.groupedExactPercentiles(docs, "lang", "n_chars", fracs,
        bucketWidth = 100L)
      .as[(String, Double, Long)].collect().toSet
    val byLang = docs.select($"lang", $"n_chars").as[(String, Long)]
      .collect().groupBy(_._1).map { case (l, vs) => l -> vs.map(_._2).sorted }
    val want = (for {
      (l, vs) <- byLang
      f <- fracs
    } yield (l, f, vs(math.ceil(vs.length * f).toInt - 1))).toSet
    assert(got == want)
  }

  test("groupedExactPercentiles: width-independent, and exact on a jumbo skewed group") {
    val skew = spark.range(100000).select(
      when($"id" % 100 === 0, "small").otherwise("jumbo").as("g"),
      ($"id" % 777).cast("long").as("v"))
    val w1 = Stats.groupedExactPercentiles(skew, "g", "v", Seq(0.5, 0.95), 1L)
      .as[(String, Double, Long)].collect().toSet
    val w1000 = Stats.groupedExactPercentiles(skew, "g", "v", Seq(0.5, 0.95),
        1000L)
      .as[(String, Double, Long)].collect().toSet
    assert(w1 == w1000, "cutoffs must not depend on the histogram width")
    // negative values go through the same floor-division path
    val neg = spark.range(1000).select(lit("g").as("g"),
      ($"id" - 500).cast("long").as("v"))
    val cut = Stats.groupedExactPercentiles(neg, "g", "v", Seq(0.5), 64L)
      .as[(String, Double, Long)].head()
    assert(cut._3 == -1L) // ceil(1000*0.5)=500 -> 500th smallest of -500..499
  }

  test("kAnonymityCensus: class sizes, counts, and at-risk flag on a " +
    "hand-built fixture") {
    // QI (a, b): class (1,x) has 1 row, (1,y) has 3, (2,x) has 3, (2,y) has 5
    val rows = Seq((1, "x")) ++ Seq.fill(3)((1, "y")) ++
      Seq.fill(3)((2, "x")) ++ Seq.fill(5)((2, "y"))
    val got = Stats.kAnonymityCensus(rows.toDF("a", "b"), Seq("a", "b"), k = 4)
      .select("class_size", "n_classes", "n_rows", "at_risk")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 1L, 1L, 1), (3L, 2L, 6L, 1), (5L, 1L, 5L, 0)))
    // row conservation: n_rows sums to the table size
    assert(got.toSeq.map(_._3).sum == rows.size)
  }

  test("basketPairAffinity: hand-built baskets — support counts, lift " +
    "above/below 1, min-support prune, in-basket dup ignored") {
    // baskets: {1,2} x3, {1,3}, {2,3}, {3} alone, plus a dup row of item 1
    val rows = Seq(
      (10L, 1L), (10L, 2L), (10L, 1L), // dup (10,1) must not inflate
      (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L),
      (13L, 1L), (13L, 3L),
      (14L, 2L), (14L, 3L),
      (15L, 3L))
    val got = Stats.basketPairAffinity(rows.toDF("b", "i"), "b", "i",
        minSupport = 2L)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    // n_baskets=6, c(1)=4, c(2)=4, c(3)=3
    // pair (1,2): c=3, lift = 6*3/(4*4) = 1.125 -> 1125000 ppm
    assert(got == Map((1L, 2L) -> ((3L, 1125000L))))
    // (1,3) and (2,3) have support 1 -> pruned by minSupport=2
  }

  test("sweepOperatorCaches releases operator-internal persists: no net " +
    "persistent RDDs after a consuming call + sweep") {
    graft.functions.Caches.sweepOperatorCaches() // drain earlier tests
    def entries = org.apache.spark.sql.GraftSql.cachedEntries(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val entriesBefore = entries
    val rows = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 2L))
    Stats.basketPairAffinity(rows.toDF("b", "i"), "b", "i",
      minSupport = 1L).collect()
    val during = spark.sparkContext.getPersistentRDDs.keySet
    assert((during -- before).nonEmpty,
      "the operator should have left a registered persist behind")
    assert(entries > entriesBefore,
      "the registered persist should hold a CacheManager entry")
    assert(graft.functions.Caches.sweepOperatorCaches() >= 1)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "sweep must release every operator-internal persist")
    assert(entries == entriesBefore,
      "sweep must drop the CacheManager entries of what it released")
  }

  test("basket miners: a degenerate mega-basket above maxBasketSize is " +
    "excluded outright — pairs, item counts, and n_baskets all drop it") {
    // normal baskets {1,2} x3 (as the lift test above) plus one bot cart
    // holding items 100..149 — 50 items, over the cap of 10
    val mega = (100L until 150L).map(i => (99L, i))
    val rows = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 2L),
      (13L, 1L), (13L, 3L), (14L, 2L), (14L, 3L), (15L, 3L)) ++ mega
    val got = Stats.basketPairAffinity(rows.toDF("b", "i"), "b", "i",
        minSupport = 2L, maxBasketSize = 10)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    // identical to the clean-input result: n_baskets=6 (not 7), no
    // 100..149 pairs, lift(1,2) = 6*3/(4*4) ppm
    assert(got == Map((1L, 2L) -> ((3L, 1125000L))))
    val rules = Stats.basketRules(rows.toDF("b", "i"), "b", "i",
        minSupport = 2L, minConfPpm = 0L, maxBasketSize = 10)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2)).toSet
    assert(rules == Set((1L, 2L), (2L, 1L)))
    // and a cap ABOVE the mega-basket admits it: its pairs appear
    val admitted = Stats.basketPairAffinity(rows.toDF("b", "i"), "b", "i",
        minSupport = 1L, maxBasketSize = 100)
      .as[(Long, Long, Long, Long)].collect()
    assert(admitted.exists(t => t._1 == 100L && t._2 == 101L))
  }

  test("basketRules: directed confidences differ per direction; " +
    "min-confidence prunes the weak direction") {
    // baskets {1,2} x3 plus item 1 alone x3: c(1)=6, c(2)=3, c(12)=3
    // conf(1->2) = 3/6 = 500000 ppm; conf(2->1) = 3/3 = 1000000 ppm
    val rows = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 2L),
      (13L, 1L), (14L, 1L), (15L, 1L))
    val all = Stats.basketRules(rows.toDF("b", "i"), "b", "i",
        minSupport = 2L, minConfPpm = 0L)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._4).toMap
    assert(all == Map((1L, 2L) -> 500000L, (2L, 1L) -> 1000000L))
    val pruned = Stats.basketRules(rows.toDF("b", "i"), "b", "i",
        minSupport = 2L, minConfPpm = 600000L)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2)).toSet
    assert(pruned == Set((2L, 1L)))
  }

  test("lDiversityCensus: a big class with one sensitive value is at risk; " +
    "diverse classes are not") {
    // class (1,x): 4 rows, all sensitive 's1'  -> diversity 1, at risk
    // class (2,y): 3 rows, sensitive s1,s2,s3  -> diversity 3, safe at l=2
    val rows = Seq.fill(4)((1, "x", "s1")) ++
      Seq((2, "y", "s1"), (2, "y", "s2"), (2, "y", "s3"))
    val got = Stats.lDiversityCensus(rows.toDF("a", "b", "s"),
        Seq("a", "b"), "s", l = 2)
      .select("n_sensitive", "n_classes", "n_rows", "at_risk")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 1L, 4L, 1), (3L, 1L, 3L, 0)))
  }

  test("rollingDistinct: window unions users; duplicates within and across " +
    "days count once") {
    // day 1: users {1,2}; day 2: {2,3} (2 repeats); day 4: {9}
    val rows = Seq(
      ("2024-03-01 01:00:00", 1L), ("2024-03-01 02:00:00", 2L),
      ("2024-03-01 03:00:00", 2L), ("2024-03-02 01:00:00", 2L),
      ("2024-03-02 02:00:00", 3L), ("2024-03-04 01:00:00", 9L))
    val ev = rows.toDF("ts_s", "user_id")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got3 = Stats.rollingDistinct(ev, "ts", "user_id", windowDays = 3)
      .as[(String, Long)].collect().toMap
    // 3-day windows ending on each observed day
    assert(got3 == Map(
      "2024-03-01" -> 2L, // {1,2}
      "2024-03-02" -> 3L, // {1,2,3}
      "2024-03-04" -> 3L)) // day1 aged out: {2,3} from day2 + {9}
  }

  test("rollingDistinct: windowDays=1 degenerates to per-day distinct") {
    val rows = Seq(
      ("2024-03-01 01:00:00", 1L), ("2024-03-01 02:00:00", 1L),
      ("2024-03-02 01:00:00", 1L), ("2024-03-02 02:00:00", 2L))
    val ev = rows.toDF("ts_s", "user_id")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = Stats.rollingDistinct(ev, "ts", "user_id", windowDays = 1)
      .as[(String, Long)].collect().toMap
    assert(got == Map("2024-03-01" -> 1L, "2024-03-02" -> 2L))
  }

  test("cusumChangepoint: a sustained level shift flags with the peak at " +
    "the shift; steady volume does not") {
    // 'shift': 10 days at 10/day then 10 days at 14/day — each day is
    // well under 2 sigma, but the drift accumulates; 'flat': 20 x 12/day
    val rows =
      (0 until 10).flatMap(d => (0 until 10).map(_ =>
        (f"2024-04-${d + 1}%02d 12:00:00", "shift"))) ++
      (10 until 20).flatMap(d => (0 until 14).map(_ =>
        (f"2024-04-${d + 1}%02d 12:00:00", "shift"))) ++
      (0 until 20).flatMap(d => (0 until 12).map(_ =>
        (f"2024-04-${d + 1}%02d 12:00:00", "flat")))
    val ev = rows.toDF("ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = Stats.cusumChangepoint(ev, "ts", "event_type", h = 4)
      .select("event_type", "cusum_peak", "peak_day", "is_change")
      .as[(String, Long, String, Int)].collect()
      .map(r => r._1 -> r).toMap
    // shift series: mean 12, dev scaled by n=20: pre-shift days drift at
    // -40/day to a trough, then +40/day; the CUSUM peak lands on the LAST
    // day (sum of positives never dips), value 10*40 = 400
    assert(got("shift")._4 == 1)
    assert(got("shift")._2 == 400L && got("shift")._3 == "2024-04-20")
    assert(got("flat")._4 == 0 && got("flat")._2 == 0L)
  }

  test("madOutliers: hand fixture — median/MAD exact, only the planted " +
    "spike flags") {
    // group g: values 10,12,14,16,18 and one wild 1000
    // sorted: 10,12,14,16,18,1000; n=6, rank ceil(3)=3 -> median 14
    // devs: 4,2,0,2,4,986 sorted 0,2,2,4,4,986 -> MAD (rank 3) = 2
    // outliers: dev > 3*2=6 -> only 986
    val df = Seq(10L, 12L, 14L, 16L, 18L, 1000L).map(("g", _))
      .toDF("grp", "v")
    val got = Stats.madOutliers(df, "grp", "v", k = 3, bucketWidth = 10L)
      .select("median", "mad", "n_rows", "n_outliers")
      .as[(Long, Long, Long, Long)].head()
    assert(got == ((14L, 2L, 6L, 1L)))
  }

  test("madOutliers: constant column has MAD 0 and every unequal value " +
    "flags") {
    val df = (Seq.fill(5)(7L) :+ 8L).map(("g", _)).toDF("grp", "v")
    val got = Stats.madOutliers(df, "grp", "v", k = 3, bucketWidth = 10L)
      .select("median", "mad", "n_outliers").as[(Long, Long, Long)].head()
    assert(got == ((7L, 0L, 1L))) // dev 1 > 3*0
  }

  test("groupedCorr: perfect line gives r2_ppm 1000000 with the right " +
    "sign; constant y is undefined") {
    val pos = (1L to 10L).map(i => ("pos", i, 3 * i + 5))
    val neg = (1L to 10L).map(i => ("neg", i, 100 - 2 * i))
    val flat = (1L to 10L).map(i => ("flat", i, 42L))
    val df = (pos ++ neg ++ flat).toDF("grp", "x", "y")
    val got = Stats.groupedCorr(df, "grp", col("x"), col("y"))
      .select("grp", "r_sign", "r2_ppm", "defined")
      .as[(String, Int, Long, Int)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got("pos") == ((1, 1000000L, 1)))
    assert(got("neg") == ((-1, 1000000L, 1)))
    assert(got("flat") == ((0, 0L, 0)))
  }

  test("groupedCorr: independent-ish pairing scores far from 1") {
    // y cycles 0,1,2 against increasing x: near-zero correlation
    val df = (0L until 30L).map(i => ("g", i, i % 3)).toDF("grp", "x", "y")
    val r2 = Stats.groupedCorr(df, "grp", col("x"), col("y"))
      .select("r2_ppm").as[Long].head()
    assert(r2 < 100000L, s"r2_ppm $r2") // < 0.1
  }

  test("burstiness: constant daily volume scores 0; a planted burst " +
    "scores the hand-computed dispersion") {
    // flat: 5 days x 10 -> variance 0 -> vmr 0
    val flat = (1 to 5).flatMap(d => (0 until 10).map(_ =>
      (f"2024-07-$d%02d 12:00:00", "flat")))
    // burst: days 10,10,10,10,60: n=5, S=100, Q=4*100+3600=4000
    // vmr = (5*4000 - 10000) * 1e6 / (5*100) = 10000*1e6/500 = 2e7
    val burst = (1 to 4).flatMap(d => (0 until 10).map(_ =>
      (f"2024-07-$d%02d 12:00:00", "burst"))) ++
      (0 until 60).map(_ => ("2024-07-05 12:00:00", "burst"))
    val ev = (flat ++ burst).toDF("ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = Stats.burstiness(ev, "ts", "event_type")
      .select("event_type", "vmr_ppm").as[(String, Long)].collect().toMap
    assert(got("flat") == 0L)
    assert(got("burst") == 20000000L, s"got ${got("burst")}")
  }

  test("interarrivalQuantiles: hand series — gaps per user/type, " +
    "cross-user gaps never mix, p50 lands on the exact bucket bound") {
    // user 1 'a': events at 0, 100, 200, 300 s -> gaps 100, 100, 100
    // user 2 'a': events at 0, 1000 s -> gap 1000
    // 'b': single event -> no gaps
    val rows = Seq(
      (1L, "a", "2024-09-01 10:00:00"), (1L, "a", "2024-09-01 10:01:40"),
      (1L, "a", "2024-09-01 10:03:20"), (1L, "a", "2024-09-01 10:05:00"),
      (2L, "a", "2024-09-01 09:00:00"), (2L, "a", "2024-09-01 09:16:40"),
      (3L, "b", "2024-09-01 08:00:00"))
    val ev = rows.toDF("user_id", "event_type", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = Stats.interarrivalQuantiles(ev, "ts", "user_id", "event_type")
      .select("event_type", "q_permille", "n_rows", "qtile_lb")
      .as[(String, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // 'a': 4 gaps {100 x3, 1000}; p50 -> rank 2 -> 100 (exact bucket lb);
    // p99 -> rank 4 -> 1000's bucket lb 992
    assert(got(("a", 500)) == ((4L, 100L)))
    assert(got(("a", 990)) == ((4L, 992L)))
    assert(!got.keySet.exists(_._1 == "b"), "singleton has no gaps")
  }

  test("quantileSketchErrorReport: lb never exceeds exact, error within " +
    "the documented 1/16 bound, exact-power-of-two values hit 0 error") {
    val mixed = ((1L to 1000L) ++ Seq.fill(50)(64L)).map(("g", _))
      .toDF("grp", "v")
    val got = Stats.quantileSketchErrorReport(mixed, "grp", "v",
        permilles = Seq(500, 950), bucketWidth = 50L)
      .select("q_permille", "exact_value", "sketch_lb", "rel_err_ppm",
        "within_bound")
      .as[(Int, Long, Long, Long, Int)].collect()
    assert(got.length == 2)
    got.foreach { case (q, ex, lb, err, ok) =>
      assert(lb <= ex, s"q$q lb $lb > exact $ex")
      assert(err >= 0L && ok == 1, s"q$q err $err")
    }
  }

  test("dailyTrend: a linear ramp fits its exact slope; flat volume " +
    "fits zero") {
    // counts 2, 4, 6 on consecutive days -> slope exactly 2/day
    val ramp = Seq(("2024-01-01", 2), ("2024-01-02", 4), ("2024-01-03", 6))
      .flatMap { case (d, n) => (0 until n).map(_ => (d + " 09:00:00", "e")) }
    val ev = ramp.toDF("ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = Stats.dailyTrend(ev, "ts", "event_type")
      .select("n_days", "n_events", "slope_micro")
      .as[(Long, Long, Long)].head()
    assert(got == ((3L, 12L, 2000000L)))
    val flat = Seq(("2024-01-01", 3), ("2024-01-02", 3))
      .flatMap { case (d, n) => (0 until n).map(_ => (d + " 09:00:00", "e")) }
      .toDF("ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    assert(Stats.dailyTrend(flat, "ts", "event_type")
      .select("slope_micro").as[Long].head() == 0L)
  }

  test("freshness: staleness is whole seconds behind the table max; the " +
    "newest group reads zero") {
    val rows = Seq(
      ("a", "2024-01-01 10:00:00"), ("a", "2024-01-01 10:00:05"),
      ("b", "2024-01-01 09:59:03.4"))
    val ev = rows.toDF("event_type", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = Stats.freshness(ev, "ts", "event_type")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    // b trails by 61.6 s -> 61 whole seconds; a is the global max
    assert(got.toSeq == Seq(
      ("a", 1704103205000L, 0L), ("b", 1704103143400L, 61L)))
  }

  test("erasureAudit + erase: listed users' rows all move to removed; " +
    "erase drops exactly those rows") {
    val rows = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-02 10:00:00"),
      (2L, "2024-01-01 11:00:00"), (3L, "2024-01-02 12:00:00"))
    val ev = rows.toDF("user_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val list = Seq(1L, 99L).toDF("user_id") // 99 never appears
    val audit = Stats.erasureAudit(ev, "ts", "user_id", list)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(audit.toSeq == Seq(
      ("2024-01-01", 1L, 1L, 1L), ("2024-01-02", 1L, 1L, 1L)))
    val kept = Stats.erase(ev, "user_id", list)
      .select("user_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
  }

  test("dowSeasonal: a flat weekly cycle has zero residuals; a spike on " +
    "one slot instance flags only that day") {
    // two Mondays (epoch-day mod 7 equal), one with double volume
    val rows = Seq(("2024-01-01", 2), ("2024-01-08", 2), ("2024-01-15", 4))
      .flatMap { case (d, n) => (0 until n).map(_ => (d + " 09:00:00", "e")) }
    val ev = rows.toDF("ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = Stats.dowSeasonal(ev, "ts", "event_type")
      .select("day", "n_events", "resid_ppm", "seasonal_anomaly")
      .as[(String, Long, Long, Int)].collect().sortBy(_._1)
    // slot mean = 8/3; resid = n*3*1e6/8 - 1e6
    assert(got.map(r => (r._1, r._3, r._4)).toSeq == Seq(
      ("2024-01-01", -250000L, 0), ("2024-01-08", -250000L, 0),
      ("2024-01-15", 500000L, 0)))
    // raise the spike: 2 -> threshold crossing at > 50%
    val rows2 = Seq(("2024-01-01", 2), ("2024-01-08", 2), ("2024-01-15", 8))
      .flatMap { case (d, n) => (0 until n).map(_ => (d + " 09:00:00", "e")) }
    val ev2 = rows2.toDF("ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val flags = Stats.dowSeasonal(ev2, "ts", "event_type")
      .select("day", "seasonal_anomaly").as[(String, Int)].collect().toMap
    // slot mean = 4; day 15 sits at +100% (flag), days 1/8 at exactly
    // -50% (the > threshold is strict — no flag)
    assert(flags == Map("2024-01-01" -> 0, "2024-01-08" -> 0,
      "2024-01-15" -> 1))
  }

  test("cusumChangepoint: peak-day tie keeps the earliest day") {
    // counts 3,1,3,1: mean 2, devs scaled by n=4: +4,-4,+4,-4 ->
    // S = 4,0,4,0 — the peak 4 is hit on day 1 first
    val rows = Seq((1, 3), (2, 1), (3, 3), (4, 1)).flatMap { case (d, n) =>
      (0 until n).map(_ => (f"2024-05-$d%02d 12:00:00", "e")) }
    val ev = rows.toDF("ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = Stats.cusumChangepoint(ev, "ts", "event_type", h = 4)
      .select("cusum_peak", "peak_day").as[(Long, String)].head()
    assert(got == ((4L, "2024-05-01")))
  }

  test("dpNoisyCounts: seeded Laplace release — reproducible, seed-sensitive, bounded noise") {
    val df = (1L to 300L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    def release(seed: String) =
      Stats.dpNoisyCounts(df, Seq("g"), epsilonPpm = 500000L, seed = seed)
        .select("g", "noisy_count_micro").as[(String, Long)]
        .collect().toMap
    val a = release("s1")
    // deterministic: the same seed reproduces the release bit-exactly
    assert(release("s1") == a)
    // a different seed draws different noise (3 groups — collision odds nil)
    assert(release("s2") != a)
    // every noised count = true*1e6 + noise with |noise| <= b*ln(2^32)
    // micro-units (the inverse-CDF tail bound at 32-bit resolution)
    val bound = (2.0 * math.log(4294967296.0) * 1e6).toLong
    a.foreach { case (g, noisy) =>
      val err = noisy - 100L * 1000000L
      assert(math.abs(err) <= bound && err != 0L, s"$g: $err")
    }
    // epsilon rides the release for auditability
    val eps = Stats.dpNoisyCounts(df, Seq("g"), 500000L, "s1")
      .select("epsilon_ppm").distinct().as[Long].collect().toSeq
    assert(eps == Seq(500000L))
  }
}
