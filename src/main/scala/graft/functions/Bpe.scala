package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary LEARNING (Sennrich, Haddow & Birch, ACL
  * 2016 — the `learn_bpe` half every subword tokenizer ships): iteratively
  * merge the most frequent adjacent symbol pair. The training-data engine
  * needs the learner itself, not just a fixed tokenizer: vocabularies are
  * (re)fit on each new corpus mix.
  *
  * Scale shape (the reason this is corpus-feasible at all, and the same
  * trick the original implementation uses): after ONE corpus-sized shuffle
  * (the word histogram), every merge round runs over the WORD HISTOGRAM —
  * model-sized (distinct words), not corpus-sized. Per round: one pair-count
  * aggregate over the exploded adjacent pairs of the histogram's symbol
  * arrays, one `LIMIT 1` argmax to the driver (a single row — bounded
  * metadata, the IVF-centroid contract), one narrow map applying the merge.
  * The corpus itself is never touched again. The learned merge list is
  * model metadata: k rows.
  *
  * Exactness contract with the DuckDB oracle ([[learnOracleSql]]):
  *  - pair counting follows the reference implementation: every adjacent
  *    position counts, including self-overlapping runs ('aaa' counts (a,a)
  *    twice);
  *  - the winning pair is the total order (count DESC, lhs ASC, rhs ASC) —
  *    binary string comparison in both engines (ASCII corpus);
  *  - merge application is greedy leftmost non-overlapping. The engine's
  *    fold ([[applyMerge]]) equals the greedy scan: after a merge the
  *    accumulator's last element is `lhs||rhs`, which can never equal `lhs`
  *    (rhs is non-empty), so a just-merged element is never merged again
  *    within the round. The oracle's parity-kept-starts formulation equals
  *    the same scan: starts at consecutive positions only happen when
  *    lhs == rhs (an overlap at j, j+1 forces syms[j+1] = lhs = rhs), and
  *    within such a run the greedy scan keeps exactly the 1st, 3rd, ...
  *    start.
  */
object Bpe {

  /** (word, freq) histogram — the single corpus-sized aggregation. */
  def wordHistogram(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Character symbols of a word; robust to the regex-split trailing "". */
  private def charSyms(word: Column): Column =
    filter(split(word, ""), s => s =!= "")

  private def pairsOf(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("lhs"),
          element_at(syms, i + 1).as("rhs"))))
      .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))

  /** Greedy leftmost non-overlapping replacement of (a,b) -> a+b as a fold
    * over the symbol array (see the equality argument in the object doc). */
  private[graft] def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms,
      array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Learn `steps` merges over `df.textCol`. Output: one row per merge,
    * (step, lhs, rhs, merged, pair_count), ordered by step. */
  def learn(df: DataFrame, textCol: String, steps: Int): DataFrame = {
    require(steps >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    Caches.scoped { cp =>
    // checkpoint: the histogram is reused every round, and each round
    // rewrites `syms` — checkpointing keeps the plan one round deep
    var words = cp.checkpoint(wordHistogram(df, textCol)
      .withColumn("syms", charSyms(col("word"))))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val top = words
        .select(explode(pairsOf(col("syms"))).as("p"), col("freq"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top(0)
        val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
        merges += ((step, a, b, a + b, c))
        words = cp.checkpoint(words
          .withColumn("syms", applyMerge(col("syms"), a, b)))
        step += 1
      }
    }
    merges.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count")
    }
  }

  /** One fold applying a BATCH of pairwise-non-interacting merges in a
    * single left-to-right pass. Requires (checked by the caller's batch
    * selection, [[learnBatched]]): no symbol of any pair appears in any
    * other pair, and no pair contains another pair's merged string. Under
    * that precondition the pairs' occurrence positions are disjoint and no
    * merge creates or destroys another pair's occurrences, so one pass ==
    * applying the merges sequentially (each greedy leftmost). At most one
    * pair can match a given (acc.last, s) — the when-chain order is
    * immaterial. Expression size is linear in the batch (ONE aggregate
    * HOF), avoiding the nested-fold codegen blow-up [[segment]] documents. */
  private[graft] def applyMergeBatch(syms: Column,
      ps: Seq[(String, String)]): Column =
    aggregate(syms,
      array().cast("array<string>"),
      (acc, s) => {
        val merged = ps.foldRight(lit(null).cast("string")) {
          case ((a, b), els) =>
            when(size(acc) > 0 &&
              element_at(acc, -1) === lit(a) && s === lit(b), lit(a + b))
              .otherwise(els)
        }
        when(merged.isNotNull,
          concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
          .otherwise(concat(acc, array(s)))
      })

  /** [[learn]] with BATCHED merge rounds — identical output (bit-for-bit
    * the same merge list as the sequential greedy), up to `maxBatch` merges
    * per Spark round, so a 32k-merge vocabulary needs ~32k/m jobs instead
    * of 32k. Per round the driver fetches the top (want+1) ranked pairs
    * (bounded metadata) and keeps the longest LITERAL PREFIX of the ranking
    * that provably commutes with sequential greedy:
    *
    *  - pairwise non-interacting: no kept pair shares a symbol with, or
    *    contains the merged string of, an earlier kept pair — so kept
    *    pairs' counts and occurrences are mutually untouched and a single
    *    fold pass applies them all ([[applyMergeBatch]]);
    *  - self-pair cutoff: a kept pair with lhs == rhs TERMINATES the batch
    *    (it is kept, nothing after it). Merging (a,a)→aa inside a run
    *    creates the pair (aa,aa) whose junction source is (a,a) ITSELF — a
    *    KEPT count, so no boundary bounds the created pair and it can
    *    outrank (or lexicographically out-tie-break) later kept picks.
    *    Round 8 missed this: on the corpus "aaaa bb" with the pair
    *    universe exhausted it emitted (a,a),(b,b) where sequential's
    *    second merge is (aa,aa) — the regression test pins the fix;
    *  - strict-dominance guard: every kept pair after the first must have
    *    count > boundary, the terminator's count (the first candidate NOT
    *    kept; no guard needed when the fetch exhausted the pair universe).
    *    Proof that this commutes: existing non-kept pairs have count
    *    ≤ boundary and merges only DESTROY their occurrences; every
    *    CREATED pair (x,ab)/(ab,y)/(ab,ab) with a ≠ b maps each of its
    *    occurrences to an occurrence of a junction source pair ((x,a),
    *    (b,y), (b,a) respectively) that shares a symbol with the kept
    *    (a,b) — interacting, hence non-kept, hence ≤ boundary. So at
    *    sequential round i every competitor is ≤ boundary < count(p_i),
    *    and p_i is STRICTLY the argmax (strictness also settles the
    *    tie-break: an equal-count competitor could win on (lhs, rhs)).
    *    Ties WITHIN the prefix keep their (count DESC, lhs, rhs) order
    *    because kept counts are invariant under each other's merges.
    *    (Round 8 used count > 3·boundary from a looser two-sided
    *    inflation argument; the junction mapping shows 1× strict is
    *    already exact, which triples the batchable depth on steep
    *    distributions.)
    *
    * Worst case (flat count distribution) the batch degenerates to 1 and
    * this IS [[learn]]; batching engages exactly where the ranked pair
    * counts drop strictly across the window. [[BpeSpec]] pins batched ==
    * sequential (including the self-pair regression), the
    * `bpe_learn_batched` gate row replays the same unrolled DuckDB oracle
    * as `bpe_learn`, and `tools.BpeDeep` (last at commit 0ec9a06) replayed
    * both learners to exhaustion depth with bit-parity. */
  def learnBatched(df: DataFrame, textCol: String, steps: Int,
      maxBatch: Int = 16,
      onRound: (Int, Int) => Unit = (_, _) => ()): DataFrame = {
    require(steps >= 1 && maxBatch >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    Caches.scoped { cp =>
    var words = cp.checkpoint(wordHistogram(df, textCol)
      .withColumn("syms", charSyms(col("word"))))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    var rounds = 0
    while (merges.size < steps && !exhausted) {
      val want = math.min(maxBatch, steps - merges.size)
      val top = words
        .select(explode(pairsOf(col("syms"))).as("p"), col("freq"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(want + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        // literal-prefix selection: stop at the first interacting
        // candidate (it becomes the boundary terminator), at want, or
        // right AFTER a self-pair (lhs == rhs — see the cutoff rationale
        // in the doc: its merge can create a pair no boundary bounds)
        val touched = scala.collection.mutable.Set.empty[String]
        val kept = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var i = 0
        var stopped = false
        while (i < top.length && kept.size < want && !stopped) {
          val (a, b, _) = top(i)
          if (touched.contains(a) || touched.contains(b) ||
              touched.contains(a + b)) stopped = true
          else {
            kept += top(i)
            touched += a; touched += b; touched += (a + b)
            i += 1
            if (a == b) stopped = true
          }
        }
        // boundary = count of the first candidate NOT kept (terminator or
        // rank want+1); -1 when the pair universe is exhausted
        val boundary = if (i < top.length) top(i)._3 else -1L
        // strict-dominance guard: p1 always survives (it is the global
        // argmax by the same tie-break sequential uses); later picks need
        // count > boundary STRICTLY (exact per the junction-source proof
        // above). Counts are DESC, so truncate at the first miss.
        val safe =
          if (boundary < 0) kept.toSeq
          else kept.head +: kept.tail.takeWhile(_._3 > boundary)
        safe.foreach { case (a, b, c) =>
          merges += ((merges.size + 1, a, b, a + b, c))
        }
        rounds += 1
        onRound(rounds, safe.size)
        words = cp.checkpoint(words
          .withColumn("syms",
            applyMergeBatch(col("syms"), safe.map(p => (p._1, p._2)).toSeq)))
      }
    }
    merges.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count")
    }
  }

  /** The final segmentation after [[learn]]'s merges: (word, freq, syms)
    * with the k merges applied in order — the vocabulary's working form
    * (subword inventory = distinct symbols of this frame). */
  def segment(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    // checkpoint between merges: k CHAINED applyMerge folds in one select
    // nest k aggregate() HOFs into a single enormous expression whose
    // codegen compile alone costs seconds (measured ~10 s at k=8) —
    // materializing per merge keeps each plan one shallow fold deep, same
    // as [[learn]]'s round discipline
    merges.foldLeft(
      wordHistogram(df, textCol).withColumn("syms", charSyms(col("word")))) {
      case (acc, (a, b)) =>
        Checkpoints.eager(acc.withColumn("syms", applyMerge(col("syms"), a, b)))
    }

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB SQL replicating [[learn]] exactly, `steps` rounds unrolled
    * (same generated-oracle pattern as
    * [[graft.functions.Graphs.pageRankOracleSql]]). `tableName.textCol`
    * supplies the corpus. */
  def learnOracleSql(tableName: String, textCol: String, steps: Int): String = {
    val out = (1 to steps).map { i =>
      s"SELECT CAST($i AS INT) AS step, lhs, rhs, lhs || rhs AS merged, c AS pair_count FROM b$i"
    }.mkString("\nUNION ALL ")
    s"${learnSegmentedCteSql(tableName, textCol, steps)}\n$out\nORDER BY step"
  }

  /** Just the CTE chain (`WITH w0 ..., wN`): callers compose a final SELECT
    * over `w$steps` (the fully-segmented histogram) or the `b$i` merge
    * rows. */
  def learnSegmentedCteSql(tableName: String, textCol: String,
      steps: Int): String = {
    val w0 =
      s"""w0 AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |         string_split(word, '') AS syms
         |  FROM (SELECT unnest(string_split($textCol, ' ')) AS word
         |        FROM $tableName)
         |  WHERE word <> '' GROUP BY word)""".stripMargin
    val rounds = (1 to steps).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT w.syms[u.j] AS lhs, w.syms[u.j + 1] AS rhs,
         |         CAST(sum(w.freq) AS BIGINT) AS c
         |  FROM $prev w, unnest(generate_series(1, len(w.syms) - 1)) AS u(j)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT lhs, rhs, c FROM p$i ORDER BY c DESC, lhs, rhs LIMIT 1),
         |k$i AS MATERIALIZED (
         |  SELECT word, j FROM (
         |    SELECT word, j,
         |           row_number() OVER (PARTITION BY word, j - rn ORDER BY j) AS rr
         |    FROM (
         |      SELECT w.word AS word, u.j AS j,
         |             row_number() OVER (PARTITION BY w.word ORDER BY u.j) AS rn
         |      FROM $prev w,
         |           unnest(generate_series(1, len(w.syms) - 1)) AS u(j)
         |      WHERE w.syms[u.j] = (SELECT lhs FROM b$i)
         |        AND w.syms[u.j + 1] = (SELECT rhs FROM b$i)))
         |  WHERE rr % 2 = 1),
         |e$i AS MATERIALIZED (
         |  SELECT w.word, w.freq, w.syms, u.pos
         |  FROM $prev w, unnest(generate_series(1, len(w.syms))) AS u(pos)),
         |w$i AS MATERIALIZED (
         |  SELECT word, freq, list(sym ORDER BY pos) AS syms FROM (
         |    SELECT e.word, e.freq, e.pos AS pos,
         |           CASE WHEN k.j IS NOT NULL
         |                THEN e.syms[e.pos] || e.syms[e.pos + 1]
         |                ELSE e.syms[e.pos] END AS sym,
         |           kp.j AS consumed
         |    FROM e$i e
         |    LEFT JOIN k$i k  ON k.word = e.word AND k.j = e.pos
         |    LEFT JOIN k$i kp ON kp.word = e.word AND kp.j = e.pos - 1) t
         |  WHERE consumed IS NULL GROUP BY word, freq)""".stripMargin
    }.mkString(",\n")
    s"WITH $w0,\n$rounds"
  }
}
