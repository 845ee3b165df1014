package graft.core

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

/** Structured Streaming source over a [[TableStore]]'s version log —
  * the table-is-a-queue scan behind `TableStore.readStream`. The load
  * path is the store; the schema is the stream's. */
final class StoreSourceProvider extends StreamSourceProvider {
  private def required(schema: Option[StructType]): StructType =
    schema.getOrElse(throw new IllegalArgumentException("table store stream needs a schema"))

  def sourceSchema(sqlContext: SQLContext, schema: Option[StructType], providerName: String,
                   parameters: Map[String, String]): (String, StructType) =
    (s"store:${parameters("path")}", required(schema))

  def createSource(sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
                   providerName: String, parameters: Map[String, String]): Source =
    // the source only reads snapshots, so the store's id column plays no part
    new StoreSource(new TableStore(sqlContext.sparkSession, parameters("path"), idCol = ""),
      required(schema), metadataPath)
}

/** The offset is a committed version number. A batch is the files the
  * end version lists and the start version does not (the whole
  * snapshot when there is no start), read under the stream's schema.
  * A commit is one manifest rename, so its files reach a reader whole,
  * inside one batch. Sound only while the store is append-only: a
  * rewrite lists its rows under new file names, which would be
  * delivered again. */
private final class StoreSource(store: TableStore, val schema: StructType,
                                checkpoint: String) extends Source {
  def getOffset: Option[Offset] = store.versions.lastOption.map(LongOffset(_))

  def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val seen = start.fold(Set.empty[String])(o =>
      store.snapshotOf(version(o)).entries.map(_.name).toSet)
    val added = store.snapshotOf(version(end)).entries.map(_.name).filterNot(seen)
    org.apache.spark.sql.graft.CatalystBridge.streamingParquet(
      store.spark, added.map(store.filePath), schema)
  }

  private def version(o: Offset): Long = o.json.trim.toLongOption.getOrElse(
    throw new IllegalStateException(s"stream checkpoint at $checkpoint holds offset " +
      s"'${o.json}', which is not a version of the table store at ${store.path}"))

  def stop(): Unit = ()
}
