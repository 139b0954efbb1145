package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Web-graph centrality over the crawl's host link graph — the quality
 * prior that crawl-curation pipelines attach to every page before
 * filtering (CCNet buckets by source quality; RefinedWeb and the Common
 * Crawl ranking project both publish host-level centrality computed
 * exactly like this). The reference repo has no graph operator; this is
 * part of the training-data-pipeline extension family, same as the dedup
 * and sampling operators.
 *
 * Design constraint shared with the IVF k-means and the component
 * labelers: the iteration must be DETERMINISTIC at any parallelism and exactly
 * replayable by a relational oracle. Floating-point PageRank is neither —
 * partial-sum order changes low bits, and a SQL replay can't reproduce
 * them. So ranks are BIGINT micro-units and every division is integer
 * floor division:
 *
 *   rank_0(n)    = scale
 *   rank_{i+1}(n) = (15*scale + 85 * Σ_{(s,n)∈E} (rank_i(s) DIV outdeg(s)))
 *                   DIV 100
 *
 * i.e. the classic damping-0.85 power iteration (Page, Brin, Motwani,
 * Winograd 1999) with the two divisions floored. Dangling mass and floor
 * remainders evaporate instead of being redistributed — redistribution
 * needs an extra global sum per iteration, and the uniform offset it adds
 * never changes the ranking. Both choices are replayed verbatim by the
 * q78 DuckDB oracle (the iteration unrolled as chained CTEs), so the
 * driver grades every host's rank value exactly, not approximately.
 */
object WebGraph {

  /**
   * Fixed-iteration integer PageRank. Input is an edge table whose
   * src/dst columns are INTEGRAL (byte/short/int/long) node ids — the
   * replayable-oracle contract fixes node identity as BIGINT, and a
   * silent `cast("long")` on a string column would null every id and
   * return an empty result with no error, so non-integral id columns are
   * rejected at call time. String ids (hostnames) must be hashed
   * explicitly by the caller, e.g. `xxhash64(col("host"))` — an explicit
   * hash keeps the id→host mapping in the caller's hands (join back on
   * the same hash) instead of silently inventing one here. Self-loops
   * and duplicate edges are dropped first (a host linking to itself or
   * linking twice carries no extra endorsement). Output: one row per
   * node appearing on either side — (node, rank) with rank in
   * micro-units of `scale`.
   *
   * Scale shape (the part that matters at 10^8 hosts / 10^11 edges):
   *  - the edge table is deduped, degree-annotated, hash-partitioned by
   *    src and persisted ONCE — the static side never reshuffles across
   *    iterations;
   *  - each iteration moves only the rank table (|nodes| rows ≪ |edges|):
   *    one shuffle of ranks onto the edge partitioning, then a
   *    partial-aggregated groupBy(dst) — contributions combine map-side,
   *    so a host with 10^7 in-links receives its partition's partial sums,
   *    not 10^7 rows;
   *  - the iterations run in [[Fixpoint.iterate]], which truncates each
   *    generation's lineage and releases the superseded one, so a
   *    100-iteration run holds exactly one rank generation; the node
   *    table is released on return, leaving the result as the only
   *    materialized table.
   */
  def pageRank(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 10,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    for (c <- Seq(srcCol, dstCol)) {
      val dt = edgesIn.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"pageRank needs integral node ids; column '$c' is " +
          s"${dt.catalogString}. Hash string ids explicitly first, e.g. " +
          s"""xxhash64(col("$c")), and join ranks back on the same hash.""")
    }
    val spark = edgesIn.sparkSession
    val shufPart = spark.conf.get("spark.sql.shuffle.partitions").toInt

    val edges = edgesIn
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // static side: (src, dst, outdeg), partitioned by the per-iteration
    // join key so only the rank table moves each round
    val edgeDeg = edges.join(deg, "src")
      .repartition(shufPart, col("src"))
      .persist()
    val nodes = Fixpoint.materialize(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct())

    val init = nodes.select(col("node"), lit(scale).as("rank"))
    val ranks = Fixpoint.iterate("pageRank", init, iters) { g =>
      val contribs = edgeDeg
        .join(g.df, col("src") === col("node"))
        .select(col("dst"), expr("rank DIV outdeg").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("s"))
      nodes
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          expr(s"(CAST(${15L * scale} AS BIGINT) + " +
            "85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100").as("rank"))
    } { (_, g) => g.round == iters }
    edgeDeg.unpersist()
    Fixpoint.release(nodes)
    ranks
  }
}
