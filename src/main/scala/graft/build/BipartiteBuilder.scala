package graft.build

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bipartite index construction (SURVEY.md §2.4 G13; reference
  * BuildBipartite → qbaseNNbipartite, src/index_bipartite.cpp:42-141 +
  * 235-280): the adjacency comes straight from the query→base kNN lists —
  *
  *   - query node `nd + qid` → its kNN list truncated to `m`, minus the
  *     top-1 (which becomes the pivot `cur_tgt`, :262-269);
  *   - single reverse edge: pivot base node → `nd + qid` (:270-272).
  *
  * Unlike the RoarGraph phases this is pure relational dataflow — one
  * groupBy shuffle, no vector math — so it is expressed
  * entirely in DataFrame ops and is DuckDB-oracle-checkable. Node-id space
  * follows the reference: base ids `[0, nd)`, query ids `[nd, nd+ndSq)`
  * (src/index_bipartite.cpp:152-159).
  */
object BipartiteBuilder {

  /** @param knn  [query_id: long, knn: array<long>] base ids ascending by
    *             (dist, id) — the output of the exact kNN join (A1)
    * @param nd   number of base points (query node id offset)
    * @param m    degree cap M_pjbp (kNN list truncated to this, :257-259)
    * @return [src: long, nbrs: array<long>] — one row per node with ≥1 edge,
    *         query-side neighbor order preserved (nearest-first)
    */
  def build(knn: DataFrame, nd: Long, m: Int): DataFrame = {
    val truncated = knn.select(col("query_id").cast("long"),
      slice(col("knn"), 1, m).as("knn"))
    // query node → kNN tail (everything except the pivot)
    val querySide = truncated.select(
      (col("query_id") + nd).as("src"),
      filter(col("knn"), _ =!= col("knn")(0)).as("nbrs"))
    // pivot base node → its query nodes (sorted for determinism — the
    // reference's insertion order is lock-acquisition order, :270-272)
    val baseSide = truncated
      .select(col("knn")(0).as("src"), (col("query_id") + nd).as("qnode"))
      .groupBy("src")
      .agg(sort_array(collect_list(col("qnode"))).as("nbrs"))
    // the two sides' srcs are disjoint (query nodes >= nd, pivots < nd)
    // and each side has one row per src, so the union is the adjacency
    querySide.unionByName(baseSide)
  }

  /** Base-to-base 2-hop projection of the bipartite graph: the search-time
    * expansion of Q2 SearchBipartiteGraph (src/index_bipartite.cpp:324-341
    * expands base → query → base) materialized as an adjacency table, so
    * the uniform beam-search kernel runs on it directly. One self-join of
    * the edge list — at scale both sides shuffle on the query-node key
    * (bounded by sum of query degrees, not |V|²) — and one groupBy whose
    * `collect_set` drops the duplicate (src, dst) pairs. Neighbor lists
    * sorted ascending for determinism.
    *
    * @param adj [src, nbrs] bipartite adjacency from [[build]]
    * @param nd  base/query node-id boundary
    */
  def projectTwoHop(adj: DataFrame, nd: Long): DataFrame = {
    val baseToQuery = adj.filter(col("src") < nd)
      .select(col("src"), explode(col("nbrs")).as("qnode"))
    val queryToBase = adj.filter(col("src") >= nd)
      .select(col("src").as("qnode"), explode(col("nbrs")).as("dst"))
    baseToQuery.join(queryToBase, "qnode")
      .filter(col("dst") =!= col("src"))
      .groupBy("src")
      .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
  }

  /** Degree statistics (A6, src/index_bipartite.cpp:105-138). */
  def degreeStats(adj: DataFrame): DataFrame =
    adj.select(size(col("nbrs")).as("deg"))
      .agg(count("*").as("n_nodes"),
        round(avg("deg"), 6).as("avg_degree"),
        max("deg").as("max_degree"), min("deg").as("min_degree"))
}
