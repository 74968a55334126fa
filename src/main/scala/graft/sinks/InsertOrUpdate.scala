package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Operation, ProhibitedOperationError}

/** Configuration mirroring the reference `InsertOrUpdate` options
  * (`/root/reference/bonobo_sqlalchemy/writers.py:23-35`).
  *
  * `fetchColumns` is a mapping {row-alias → db-column}: the reference
  * declares it a tuple (`writers.py:24`) but consumes it as a dict
  * (`writers.py:156`, `writers.py:178-185`) — we implement the dict intent
  * (SURVEY.md §2.1 fine print).
  *
  * `bufferSize` (rows per transaction, `writers.py:35,88-89`) only matters
  * for the JDBC backend, where it becomes the statement batch size; the
  * set-oriented merge needs no buffering.
  */
final case class UpsertConfig(
    discriminant: Seq[String] = Seq("id"),
    insertOnlyFields: Set[String] = Set.empty,
    fetchColumns: Map[String, String] = Map.empty,
    createdAtField: String = "created_at",
    updatedAtField: String = "updated_at",
    allowedOperations: Set[Operation] = Operation.defaultAllowed,
    bufferSize: Int = 1000,
    /** Override for `datetime.now()` stamping (`writers.py:105`) so tests and
      * oracle-gated queries are deterministic. Defaults to the session clock. */
    clock: Option[Column] = None,
    /** When true (reference behavior: exceptions yielded as data,
      * `writers.py:94-95`), gated rows land in `MergeResult.errors`; when
      * false, a prohibited operation throws [[ProhibitedOperationError]]. */
    errorsAsData: Boolean = true) {
  def now: Column = clock.getOrElse(current_timestamp())
}

/** Result of a merge: the new target table content, the rows actually
  * written (the reference re-emits each written row downstream,
  * `writers.py:70-73,93`), and the error side-channel (`writers.py:94-95` —
  * exceptions are yielded as data; Spark cannot flow Throwables through
  * exchanges, so they are serialized to messages, SURVEY.md §1.3).
  */
final case class MergeResult(
    target: DataFrame, written: DataFrame, errors: DataFrame)

/** Set-oriented rebuild of the reference's row-at-a-time upsert
  * (`writers.py:97-159`): the per-row `find` point lookup
  * (`writers.py:161-165`) becomes one join on the discriminant columns;
  * insert-vs-update classification, timestamp stamping, column-intersection
  * projection (`writers.py:167-176`) and operation gating
  * (`writers.py:115-116,125-126`) are all expressed as columnar conditionals,
  * so the whole upsert is a single shuffle on the discriminant (or a
  * broadcast join when one side is small) instead of 2 DB round-trips per
  * row. At 100 TB the discriminant join is the only exchange; AQE handles
  * skewed keys.
  */
object InsertOrUpdate {

  private val tPresent = "__graft_t_present"
  private val uPresent = "__graft_u_present"

  /** Merge `updates` into `target`.
    *
    * Written-column rules (reference semantics):
    *  - candidate columns = target columns ∩ update fields
    *    (`writers.py:167-176`); extra update fields are silently dropped,
    *    missing target columns keep their old value (update) or null
    *    (insert — the DB-default analog).
    *  - updates never touch `insertOnlyFields` (`writers.py:171-172`).
    *  - `updatedAtField`, when present in the target schema, is stamped on
    *    BOTH branches (the reference sets it on the row before branching,
    *    `writers.py:110-111`); `createdAtField` only on insert
    *    (`writers.py:128-129`).
    *
    * `updates` must be unique on the discriminant (the reference's
    * row-at-a-time loop gives last-writer-wins for duplicate keys, but a
    * DataFrame has no row order to define "last"; pre-aggregate if needed).
    */
  def merge(target: DataFrame, updates: DataFrame,
            cfg: UpsertConfig = UpsertConfig()): MergeResult = {
    val disc = cfg.discriminant
    require(disc.nonEmpty, "discriminant must be non-empty")
    require(disc.forall(updates.columns.contains),
      s"updates missing discriminant columns ${disc.filterNot(updates.columns.contains)}")

    val targetCols = target.columns.toSeq
    val candidate = targetCols.toSet intersect updates.columns.toSet
    val updatable = candidate -- cfg.insertOnlyFields -- disc

    val t = target.withColumn(tPresent, lit(true)).alias("t")
    val u = updates.withColumn(uPresent, lit(true)).alias("u")
    // Plain (not null-safe) equality, matching the reference's SQL '='
    // probe (writers.py:161-165): a NULL discriminant never matches, so a
    // NULL-key update row is classified as an insert and a NULL-key target
    // row is never updated.
    val cond = disc.map(c => col(s"t.$c") === col(s"u.$c")).reduce(_ && _)
    val j = t.join(u, cond, "full_outer")

    val matched = col(s"t.$tPresent").isNotNull && col(s"u.$uPresent").isNotNull
    val insertRow = col(s"t.$tPresent").isNull // update-only row, no target match
    val targetOnly = col(s"u.$uPresent").isNull

    val canInsert = cfg.allowedOperations.contains(Operation.Insert)
    val canUpdate = cfg.allowedOperations.contains(Operation.Update)
    if (!cfg.errorsAsData) {
      // Fail fast at plan time when a branch is categorically prohibited and
      // provably reached; the data-dependent check still happens below.
      if (!canInsert && !canUpdate)
        throw new ProhibitedOperationError(
          "Neither INSERT nor UPDATE operations are allowed by this transformation.")
    }

    val prohibited =
      (matched && lit(!canUpdate)) || (insertRow && lit(!canInsert))

    // Per-output-column value, in target column order.
    // Timestamp bookkeeping: the reference stamps `updated_at` on the row
    // BEFORE branching (`writers.py:110-111`) — so both update and insert
    // write it when the column exists in the target — and `created_at` only
    // on the insert branch (`writers.py:128-129`). `updated_at` still
    // respects insertOnlyFields on the update branch because the update
    // column set is (table ∩ row) − insert_only (`writers.py:171-172`).
    val outCols: Seq[Column] = targetCols.map { c =>
      val dt = target.schema(c).dataType
      val updateVal =
        if (c == cfg.updatedAtField && !cfg.insertOnlyFields.contains(c))
          cfg.now.cast(dt)
        else if (updatable.contains(c)) col(s"u.$c")
        else col(s"t.$c")
      val insertVal =
        if (c == cfg.createdAtField || c == cfg.updatedAtField) cfg.now.cast(dt)
        else if (candidate.contains(c)) col(s"u.$c")
        else lit(null).cast(dt)
      // A prohibited row leaves the target untouched (the reference raises
      // per row and the DB row keeps its old content, `writers.py:115-116`).
      when(targetOnly || prohibited, col(s"t.$c"))
        .when(matched, updateVal)
        .otherwise(insertVal)
        .as(c)
    }

    val merged = j.withColumn("__graft_prohibited", prohibited)
    // Prohibited inserts have no target row to keep — they vanish from the
    // new snapshot; prohibited updates keep the old target row.
    val newTarget = merged
      .filter(col(s"t.$tPresent").isNotNull || !col("__graft_prohibited"))
      .select(outCols: _*)
    val written = merged
      .filter(!col("__graft_prohibited") && !targetOnly)
      .select(outCols: _*)

    val errors = merged
      .filter(col("__graft_prohibited"))
      .select(
        when(matched,
          lit("ProhibitedOperationError: UPDATE operations are not allowed by this transformation."))
          .otherwise(
            lit("ProhibitedOperationError: INSERT operations are not allowed by this transformation."))
          .as("error") +:
          disc.map(c => coalesce(col(s"u.$c"), col(s"t.$c")).as(c)): _*)

    if (!cfg.errorsAsData) {
      // Reference parity when errors-as-data is off: first prohibited row
      // aborts (fatal path). One action — take(1) both detects and fetches.
      errors.select("error").take(1).foreach { r =>
        throw new ProhibitedOperationError(r.getString(0))
      }
    }

    MergeResult(newTarget, fetchBack(written, cfg), errors)
  }

  /** `fetch_columns` re-read (`writers.py:150-157`): after the merge the
    * written rows already carry every target column, so the reference's
    * extra round-trip (and its broken re-find, `writers.py:152`) collapses
    * into a projection {alias := column}. */
  private def fetchBack(written: DataFrame, cfg: UpsertConfig): DataFrame =
    cfg.fetchColumns.foldLeft(written) { case (df, (alias, column)) =>
      if (alias == column) df else df.withColumn(alias, col(column))
    }
}
