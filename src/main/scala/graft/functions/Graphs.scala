package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over corpus-derived graphs (the near-dup pair
  * graph, source-overlap graph, …). The reference has no graph surface;
  * these exist for the 100 TB engine: cluster-health ranking (which
  * documents sit at the center of big near-dup neighborhoods) is the
  * standard prioritizer for manual dedup review and survivor policies.
  *
  * Scale shape: one shuffle per iteration, keyed by the destination node —
  * the textbook distributed PageRank data flow (rank joins degree, the
  * per-node contribution joins the edge list, contributions aggregate at
  * the destination). Ranks are one long per node; the graph never
  * replicates. Every 4th round is checkpointed so the lineage stays
  * bounded however many rounds run, the same discipline as
  * [[Dedup.connectedComponents]].
  *
  * Exactness: all arithmetic is INTEGER — ranks live in units of
  * `scale` (default 10^12, "picorank"), per-edge contributions are
  * floor-divided (`rank div degree`), and the damping update is
  * `teleport + (dampingPct * inSum) div 100`. Integer floor division is
  * deterministic and engine-portable, so the correctness gate recomputes
  * every iteration in SQL and hash-matches — a float PageRank could never
  * gate this way (summation order changes the last ulp).
  */
object Graphs {

  /** Damped PageRank over an UNDIRECTED pair list, `iterations` rounds of
    * integer power iteration. `pairs` holds one row per unordered edge
    * (aCol < bCol, the near-dup pair convention); both directions are
    * materialized internally. Nodes absent from `pairs` (dangling) keep
    * the teleport mass. Returns (idCol, rank_nano). */
  def pageRank(nodes: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      iterations: Int = 3, dampingPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    Caches.scoped { scope =>
    val ids = nodes.select(col(idCol).as("id"))
    val n = ids.count() // driver scalar: one long
    require(n > 0, "pageRank over an empty node set")
    val base = scale / n
    val teleport = ((100L - dampingPct) * base) / 100L
    // pairs feeds both direction legs of the union — persist so an
    // expensive upstream pair graph (e.g. the jaccard rebuild) runs once
    val p = scope.persist(pairs)
    val edges = p.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(p.select(col(bCol).as("src"), col(aCol).as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // (src, dst, deg) is loop-invariant — join it ONCE outside the
    // iteration instead of re-joining deg every round (one join + one
    // aggregate per round instead of two joins + one aggregate)
    val edgesDeg = scope.persist(edges.join(deg, Seq("src")))
    var ranks = ids.select(col("id"), lit(base).as("rank"))
    for (i <- 1 to iterations) {
      val inSums = edgesDeg
        .join(ranks, col("id") === col("src"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("c")).as("in_sum"))
      val next = ids
        .join(inSums, Seq("id"), "left_outer")
        .select(col("id"),
          (lit(teleport) +
            expr(s"($dampingPct * coalesce(in_sum, 0L)) div 100")).as("rank"))
      // each round's frame is referenced exactly ONCE by the next round, so
      // the chain evaluates once at the consumer's action — no per-round
      // materialization needed. Lineage grows linearly (one join + one agg
      // per round); truncate it every 4th round so a long power iteration
      // never accretes an unplannable tree.
      ranks = if (i % 4 == 0 && i < iterations) scope.checkpoint(next)
              else next
    }
    // materialize the final (node-sized) ranks — untracked, the unit's
    // sweep frees them; the scope releases the pair/edge caches and round
    // checkpoints, so repeated calls in one JVM accumulate nothing
    Checkpoints.eager(
      ranks.select(col("id").as(idCol), col("rank").as("rank_nano")))
    }
  }

  /** DuckDB SQL for the SAME integer power iteration, parameterized by the
    * CTE name holding (id_a, id_b) pairs and one holding node ids — the
    * correctness oracle's second half (the caller supplies the pair CTEs,
    * typically the exact-Jaccard rebuild the dedup gates already use). */
  def pageRankOracleSql(nodesCte: String, nodeIdCol: String, pairsCte: String,
      iterations: Int = 3, dampingPct: Int = 85,
      scale: Long = 1000000000000L): String = {
    val d = dampingPct
    val head =
      s"""edges AS (SELECT id_a AS src, id_b AS dst FROM $pairsCte
         |          UNION ALL SELECT id_b, id_a FROM $pairsCte),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT count(*) AS c FROM $nodesCte),
         |r0 AS (SELECT $nodeIdCol AS id,
         |         (SELECT $scale // c FROM nn) AS rank FROM $nodesCte)""".stripMargin
    val rounds = (1 to iterations).map { i =>
      s"""s$i AS (SELECT e.dst AS id, sum(r.rank // dg.deg) AS in_sum
         |  FROM r${i - 1} r JOIN deg dg ON dg.src = r.id
         |  JOIN edges e ON e.src = r.id GROUP BY e.dst),
         |r$i AS (SELECT b.id,
         |    (SELECT (((100 - $d) * ($scale // c)) // 100) FROM nn)
         |    + (($d * COALESCE(s.in_sum, 0)) // 100) AS rank
         |  FROM r0 b LEFT JOIN s$i s USING (id))""".stripMargin
    }.mkString(",\n")
    s"$head,\n$rounds"
  }
}
