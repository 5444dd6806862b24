package graft

import org.apache.spark.sql.SparkSession

/** The persisted indexes the curation battery's queries read, each built
  * by graft's own (package-private) builder. Lives in graft's package for
  * that reason only. Each call builds its index once per session and table
  * directory, as `graft.Bench` provisions them. */
object PerfbenchIndexes {
  val builders: Seq[(String, (SparkSession, String) => String)] = Seq(
    "bm25" -> queries.TextQueries.bm25IndexPath,
    "minhash" -> queries.DedupQueries.minhashIndexPath,
    "containment" -> queries.DedupQueries.d20Path,
    "stream_semantic" -> queries.StreamQueries.streamSemanticPath)
}
