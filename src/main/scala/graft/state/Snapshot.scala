package graft.state

import org.apache.spark.sql.Row

/** P1 serving snapshot: the latest-per-key view materialized to an
  * in-memory map for O(1) point reads — the reference's local MemStore
  * serving path (KVStoreLocal.apply:303-321).
  *
  * Scale contract: this is for SMALL/global stores only (the reference's
  * KVStoreGlobal, §2.4 J8) — `maxRows` guards against collecting a fact
  * table onto the driver. Large keyspaces serve point reads through
  * `KVTable.get`, whose predicate pushes to the columnar scan instead.
  */
final class Snapshot private (
    index: Map[Seq[Any], Row],
    val keyCols: Seq[String],
    val keyTypes: Seq[org.apache.spark.sql.types.DataType]) {
  def get(key: Seq[Any]): Option[Row] = index.get(key)
  def size: Int = index.size
}

object Snapshot {

  /** Largest row count served from driver memory — by a snapshot here and
    * by each bucket generation the Gateway's bucketed routes hold. */
  val MaxRows: Int = 1000000

  def of(kv: KVTable, maxRows: Int = MaxRows): Snapshot = {
    val latest = kv.latest
    val rows = latest.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"snapshot exceeds $maxRows rows — serve this keyspace via KVTable.get instead")
    val keyIdx = kv.keyCols.map(latest.schema.fieldIndex)
    new Snapshot(rows.map(r => keyIdx.map(r.get) -> r).toMap, kv.keyCols,
      keyIdx.map(i => latest.schema.fields(i).dataType))
  }
}
