package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables

/** The steps `t21_dup_clusters` composes, one call each, so a traced run
  * can time the pair layer and the component layer apart. Each step is
  * the call `TextQueries.buildDupClusters` makes; only the memo record is
  * left out. [[fleetbench.CurationDedup]] runs this composition traced and
  * `t21DupClusters.run` itself untraced. */
object DupClusterLayers {
  /** MinHash-LSH candidate pairs (d1 < d2), unsorted. */
  def pairs(s: SparkSession, dir: String): DataFrame =
    TextQueries.nearDupPairsOf(Tables.documents(s, dir)).select(col("d1"), col("d2"))

  def nodes(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id").as("id"))

  /** Connected components over the pairs, framed and checkpointed the way
    * t21 records them. */
  def clusters(pairs: DataFrame, nodes: DataFrame): DataFrame =
    Clustering.frame(graft.ops.ConnectedComponents.labels(pairs, "d1", "d2", nodes, "id"),
      "doc_id").localCheckpoint()
}
