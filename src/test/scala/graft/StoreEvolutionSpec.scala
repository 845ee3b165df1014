package graft

import scala.annotation.meta.field
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.annotations.Id
import graft.cep.EventProcessor
import graft.core.{EntityMeta, TableStore, TempDirs, TypedTable}

/** Entity over an evolved table: `n` was added after the first files. */
case class WideRow(@(Id @field) id: Long, v: String, n: Option[Int])

object ConsumeEvolved extends EventProcessor {
  def process(row: Row): Boolean = true
  def delete(): Boolean = true
}

/** Reads and rewrites of a table whose schema evolved additively see
  * the committed (wide) schema: files written before the added column
  * surface it as null, and no rewrite narrows the committed schema. */
class StoreEvolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Two files: ids 1-2 predate `n`; ids 3-4 carry n = 30, 40. */
  private def evolved(): TableStore = {
    val st = new TableStore(spark, TempDirs.create("graft_evolve_"), "id")
    st.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    st.append(Seq((3L, "c", 30), (4L, "d", 40)).toDF("id", "v", "n").coalesce(1))
    st
  }

  private def idN(df: DataFrame): Seq[(Long, Option[Int])] =
    df.orderBy("id").collect().toSeq.map(r =>
      (r.getAs[Long]("id"), Option(r.getAs[Integer]("n")).map(_.intValue)))

  private def assertWide(st: TableStore, expected: Seq[(Long, Option[Int])]): Unit = {
    assert(st.read.columns.toSeq == Seq("id", "v", "n"), "committed schema lost n")
    assert(idN(st.read) == expected)
  }

  test("deleteKeys on an evolved table keeps the added column") {
    val st = evolved()
    st.deleteKeys(Seq(2L).toDF("id"))
    assertWide(st, Seq((1L, None), (3L, Some(30)), (4L, Some(40))))
  }

  test("delete on an evolved table keeps the added column") {
    val st = evolved()
    st.delete(col("id") === 1L) // rewrites only the file that predates n
    assertWide(st, Seq((2L, None), (3L, Some(30)), (4L, Some(40))))
    st.delete(col("id").isin(2L, 4L))
    assertWide(st, Seq((3L, Some(30))))
  }

  test("deleteBelowId on an evolved table keeps the added column") {
    val st = evolved()
    st.deleteBelowId(2L)
    assertWide(st, Seq((2L, None), (3L, Some(30)), (4L, Some(40))))
  }

  test("process on an evolved table keeps the added column") {
    val st = evolved()
    val res = st.process(col("id") === 1L, ConsumeEvolved)
    assert(res.processed == 1)
    assertWide(st, Seq((2L, None), (3L, Some(30)), (4L, Some(40))))
  }

  test("compact on an evolved table keeps the added column") {
    val st = evolved()
    st.compact(1)
    assert(st.fileIdRanges.size == 1)
    assertWide(st, Seq((1L, None), (2L, None), (3L, Some(30)), (4L, Some(40))))
  }

  test("readRange reads files that predate the added column under the committed schema") {
    val st = evolved()
    assert(st.readRange(1L, 2L).columns.toSeq == Seq("id", "v", "n"))
    assert(idN(st.readRange(1L, 2L)) == Seq((1L, None), (2L, None)))
    assert(idN(st.readRange(2L, 3L)) == Seq((2L, None), (3L, Some(30))))
  }

  test("TypedTable.find on a key whose file predates the added column returns it as null") {
    val st = evolved()
    val tt = new TypedTable[WideRow](spark, st, EntityMeta.of[WideRow])
    assert(tt.find(1L).contains(WideRow(1L, "a", None)))
    assert(tt.find(4L).contains(WideRow(4L, "d", Some(40))))
  }
}
