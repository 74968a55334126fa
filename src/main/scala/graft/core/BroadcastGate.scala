package graft.core

/** The row gate of the measured broadcasts: a small side MEASURED at or
  * below [[MaxRows]] rows is planned as a broadcast, a larger one joins
  * shuffled, so an unexpectedly large side degrades to a shuffle rather
  * than an unbounded driver broadcast. Dedup's size-gated joins and
  * SnapshotStore.upsert's batch keys share it. */
private[graft] object BroadcastGate {
  val MaxRows = 1000000L
}
