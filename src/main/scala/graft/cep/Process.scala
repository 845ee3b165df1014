package graft.cep

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `PROCESS … WITHIN <class>` — batch CEP executor (reference C5:
  * sql/SQLSelect.java:163-177,278-285; exec sql/FrameJoinTask.java:343-377).
  *
  * Semantics: for every row matching the WHERE condition, call the user
  * EventProcessor's `process(row)`; the row is deleted iff `process`
  * returned true and `delete()` is true. The reference takes a
  * cluster-wide table lock and ships row batches to nodes; here the
  * callback runs inside each partition (rows never leave their executor
  * — the same "tasks move to data" shape, sql/SQLCursor.java:284-336)
  * and deletion is an anti-join rewrite instead of in-place frame
  * surgery.
  */
object Process {

  /** `consumed` is the cached frame of rows the processor consumed;
    * `retained` reads it, so the caller unpersists `consumed` once it
    * no longer needs `retained`. */
  final case class Result(processed: Long, retained: DataFrame, consumed: Dataset[Row])

  /** Run the processor over `table`.
    *
    * @param idCol unique key column, if the table has one: deletion then
    *   lowers to a keyed left-anti join (shuffle on one key — scales to
    *   arbitrary table sizes). Without it we fall back to exceptAll
    *   (full-row comparison — correct but heavier).
    */
  def run(table: DataFrame, condition: Column, processor: EventProcessor,
          idCol: Option[String] = None): Result = {
    val (consumed, nProcessed) = consumedRows(table, condition, processor)
    val retained =
      if (!processor.delete()) table
      else idCol match {
        case Some(id) =>
          table.join(consumed.select(col(id)), Seq(id), "left_anti")
        case None => table.exceptAll(consumed)
      }
    Result(nProcessed, retained, consumed)
  }

  /** Execute the callback on every row matching the condition, returning
    * the rows the processor consumed (process==true), cached so callers
    * can reuse them (delete pass) without re-running user side effects,
    * plus the consumed count. Callers unpersist when done. Shared by
    * batch PROCESS and the per-microbatch body of PROCESS STREAM. */
  def consumedRows(table: DataFrame, condition: Column,
                   processor: EventProcessor): (Dataset[Row], Long) = {
    val matching = table.filter(condition)
    implicit val enc = Encoders.row(matching.schema)
    val consumed: Dataset[Row] = matching.mapPartitions { it =>
      it.filter(processor.process)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    (consumed, consumed.count()) // count forces the callbacks exactly once
  }
}
