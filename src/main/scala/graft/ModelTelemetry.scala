package graft

/** Process-wide count of model-artifact COLD TRAIN events: ModelStore
  * adds one per deploy-or-build call whose build runs (its scaladoc has
  * the counting rule). Bench snapshots this around every sample so
  * BENCH_FULL.json can label each timing artifact-cold vs artifact-warm —
  * with a shared train-once/deploy-many cache, per-query times depend on
  * run order (the first trainer pays), and a judge comparing rounds needs
  * to separate the two populations. Monotone; never reset. */
object ModelTelemetry {
  val trains = new java.util.concurrent.atomic.AtomicLong(0L)
}
