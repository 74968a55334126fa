package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The key gate of the opt-out deletes (`SnapshotStore.delete`,
  * `Similarity.indexDelete`): a batch of at most [[MaxKeys]] keys in ONE
  * integer-valued column is evaluated once, on the driver, and applied as
  * a literal key set that the parquet scan can push down, in place of a
  * materialized key relation joined against the store. A larger batch,
  * or a key of any other shape, keeps the join plan: its checkpoint,
  * broadcasts and exchanges are fixed costs that a small batch does not
  * repay, while the key set's own cost (the driver collect, and the set
  * shipped with every task) grows with the batch. */
private[graft] object DriverKeys {

  /** The most keys a delete holds on the driver. MEASURED
    * (SCALEPROBE.json `delete_gate`, local[4] on a 4-core box, warm
    * deletes of 10 to 1 M BIGINT keys against a 1 M-row SnapshotStore and
    * a 1 M-vector IVF-PQ index, with half of the keys matching or only
    * 10; 6 rounds of both paths back to back): at 100 keys the key set
    * won all 6 rounds in all four series, by 17-41% on the mins. The
    * store's series and the index's 10-matching series kept winning up
    * to 10 k keys, but the index's half-matching series, where the
    * rewrite of every cell dominates, won 1 round of 6 at 1 k keys and
    * lost on the mins at 3 k (4.17 s vs 3.88 s), so the bound stays at
    * the last size with a clear win everywhere. */
  val MaxKeys: Int = 100

  /** Whether a key column of the stored type `t` can be held: the
    * measured shape, one column whose Catalyst value is an int or a long
    * (integers, dates, timestamps), whose `InSet` is a hash set pushed
    * into the scan. Strings, decimals, floats and multi-column keys were
    * not swept (a struct `InSet` is an interpreted ordered set that the
    * scan does not push down), so they keep the join plan. */
  def holds(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The distinct non-null keys of `keys`' column `c`, cast to the stored
    * type `t`, from ONE collect of at most `max` + 1 rows (a local
    * relation's runs no job); None, with nothing run, when `t` is not
    * [[holds held]], and None when `keys` holds more than `max` rows. A
    * null key matches nothing, as in the join. */
  def collect(keys: DataFrame, c: String, t: DataType,
              max: Int): Option[Array[Row]] =
    if (!holds(t)) None
    else {
      val rows = keys.select(col(c).cast(t).as(c)).limit(max + 1).collect()
      if (rows.length > max) None
      else Some(rows.filterNot(_.isNullAt(0)).distinct)
    }

  /** Whether `c` (of the stored type `t`) holds one of the key `rows`:
    * one `InSet` of the keys' Catalyst values, which the parquet scan
    * pushes down. It is one expression node whatever the batch size, so
    * planning does not walk a literal per key. A null column value gives
    * null, so a caller that keeps the non-matching rows wraps it in
    * `coalesce(…, false)`. */
  def in(c: Column, t: DataType, rows: Array[Row]): Column =
    Bridge.column(InSet(Bridge.expression(c),
      rows.map(r => Literal.create(r.get(0), t).value).toSet))
}
