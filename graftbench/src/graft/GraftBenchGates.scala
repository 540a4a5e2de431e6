package graft

import graft.operators.Dedup

/** Dedup's corpus-size gates, which are private to graft: the benchmark
  * reads them to route its calls as graft's own entry points do and to
  * print which route each size-gated phase takes on its corpus.
  */
object GraftBenchGates {
  /** Distinct SimHashes from which `simhashPairsFrame` bands wide. */
  def wideBandMinHashes: Long = Dedup.WideBandMinHashes
  /** Largest corpus whose embedding verify is broadcast. */
  def broadcastVerifyMaxRows: Long = Dedup.BroadcastVerifyMaxRows
  /** Pairs from which `clusterPairs` contracts components locally. */
  def clusterContractionMinPairs: Long = Dedup.ClusterContractionMinPairs
}
