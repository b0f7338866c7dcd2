package graft

/** Read-only view of the package-private size gates that decide which
  * physical route a dedup or nearest-neighbour call takes, so the benchmark
  * can record the route it measured. */
object PerfbenchView {
  def dedupBroadcastDocs: Long = graft.queries.Dedup.BroadcastDocs
  def knnBroadcastCorpusRows: Long = graft.ops.Knn.BroadcastCorpusRows
}
