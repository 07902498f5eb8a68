package graft.sources

/** Reference to a persisted ingest-time store artifact (band index,
  * fingerprint table, ANN model): either path-addressed parquet — the
  * portable form the harness and tests default to — or a bucketed managed
  * table, the cluster deployment's layout, whose pre-shuffled buckets let
  * the admission joins plan with no store-side exchange
  * ([[Layouts.writeBucketed]]). Consumers resolve a ref to frames and are
  * otherwise layout-agnostic; the harness flips layouts with
  * `spark.graft.ingestBucketed` (A/B: `graft.Probe time <queries>
  * spark.graft.ingestBucketed=true`).
  */
sealed trait StoreRef
object StoreRef {
  final case class Path(path: String) extends StoreRef
  final case class Table(name: String) extends StoreRef
}
