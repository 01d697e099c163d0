package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-table entity resolution: fuzzy-match records of two tables by
  * character-n-gram Jaccard over a name-like column (the
  * record-linkage step that reconciles extracted entities across source
  * systems).
  *
  * Scale design — PREFIX-FILTERED set-similarity join (the AllPairs/
  * PPJoin family): a naive inverted-index join degenerates on "stop
  * grams" (a gram shared by every record joins all-pairs through one hot
  * key). Prefix filtering is the exact fix: order every record's gram set
  * by GLOBAL document frequency ascending (rarest first) and keep only
  * the first `|G| - ceil(t*|G|) + 1` grams as join keys — any pair with
  * Jaccard >= t provably shares a PREFIX gram (pigeonhole: a pair sharing
  * none of either prefix can overlap on at most |G| - p grams, too few to
  * reach t), and hot grams sit at the END of the frequency order, so they
  * never become join keys unless a record is almost all stop grams.
  * Verification then recounts the EXACT intersection for candidates only.
  * The ceil is computed with a 1e-9 slack so float rounding can only
  * shrink pruning, never correctness. */
object Entity {

  /** Distinct lowercase character k-grams of the named string column
    * (names shorter than k produce no grams and never match). */
  def charGrams(name: String, k: Int): Column =
    array_distinct(expr(
      s"transform(sequence(1, greatest(length(lower($name)) - ${k - 1}, 0)), " +
        s"i -> substr(lower($name), i, $k))"))

  /** All (id_a, id_b, n_shared, jaccard) pairs across the two tables with
    * char-k-gram Jaccard >= threshold. */
  def similarNamePairs(a: DataFrame, aId: String, aName: String,
      b: DataFrame, bId: String, bName: String,
      k: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    import org.apache.spark.sql.expressions.Window
    // persisted: each side's exploded gram frame is read five times (the
    // df union, the prefix computation, the size aggregate, and the verify
    // join) — uncached that is five scans + explodes per side
    val ag = a.select(col(aId).as("id_a"),
        explode(charGrams(aName, k)).as("g"))
      .transform(Caches.operatorPersist)
    val bg = b.select(col(bId).as("id_b"),
        explode(charGrams(bName, k)).as("g"))
      .transform(Caches.operatorPersist)
    // global gram document frequency across BOTH sides — the prefix order
    val df = ag.select(col("g")).unionAll(bg.select(col("g")))
      .groupBy("g").agg(count(lit(1)).as("_df"))
    def prefix(side: DataFrame, id: String) = {
      val n = Window.partitionBy(id)
      val w = Window.partitionBy(id).orderBy(col("_df"), col("g"))
      side.join(df.hint("shuffle_hash"), Seq("g"))
        .withColumn("_n", count(lit(1)).over(n))
        .withColumn("_rk", row_number().over(w))
        // p = n - ceil(t*n) + 1; slack only ever ENLARGES the prefix
        .filter(col("_rk") <=
          col("_n") - ceil(lit(threshold) * col("_n") - lit(1e-9)) + 1)
        .select(col(id), col("g"))
    }
    val candidates = prefix(ag, "id_a").join(prefix(bg, "id_b"), Seq("g"))
      .select("id_a", "id_b").distinct()
    val na = ag.groupBy("id_a").agg(count(lit(1)).as("n_a"))
    val nb = bg.groupBy("id_b").agg(count(lit(1)).as("n_b"))
    // exact verify on candidates only: recount the full intersection
    candidates
      .join(ag, Seq("id_a"))
      .join(bg, Seq("id_b", "g"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(na, Seq("id_a")).join(nb, Seq("id_b"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_shared", "jaccard")
  }
}
