package graft.core

import scala.reflect.ClassTag
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.annotations.{DistributedId, Id, NoCheck, NoDistribute, Threshold}

/** Entity metadata derived from a case class's annotations — the
  * schema-registry half of the reference's `registerTable`
  * (persistent/Session.java:181-277 reads @Id/@DistributedId/@Threshold
  * off the POJO; persistent/Table.java:409-428). The Catalyst Encoder
  * supplies the StructType, replacing the reference's reflection proxy
  * machinery (proxy/POJOProxyFactory.java:97-130).
  */
final case class EntityMeta(idCol: String, generatedId: Boolean,
                            threshold: Option[Long],
                            noCheck: Boolean = false,
                            noDistribute: Boolean = false)

object EntityMeta {
  /** Read @Id / @DistributedId / @Threshold from the class's declared
    * fields (Scala callers annotate constructor params with
    * `@(Id @field)` so the annotation lands on the backing field). */
  def of[T](implicit ct: ClassTag[T]): EntityMeta = {
    val cls = ct.runtimeClass
    val fields = cls.getDeclaredFields
    val gen = fields.find(_.isAnnotationPresent(classOf[DistributedId]))
    val plain = fields.find(_.isAnnotationPresent(classOf[Id]))
    val idField = gen.orElse(plain).getOrElse(
      fields.find(_.getName == "id").getOrElse(throw new IllegalArgumentException(
        s"${cls.getName}: no @Id/@DistributedId field and no field named 'id'")))
    val thr = Option(cls.getAnnotation(classOf[Threshold])).map(_.value())
    EntityMeta(idField.getName, gen.isDefined, thr,
      noCheck = idField.isAnnotationPresent(classOf[NoCheck]),
      noDistribute = cls.isAnnotationPresent(classOf[NoDistribute]))
  }
}

/** Typed table over a TableStore — the reference's entity surface:
  * `persist(o)` / `find(id)` / entity-result scans
  * (persistent/Session.java:436-457, :326-342; entity results
  * sql/SQLSelect.java:292-301 → `Dataset[T]`).
  */
final class TypedTable[T: Encoder](val spark: SparkSession, val store: TableStore,
                                   val meta: EntityMeta,
                                   beforeWrite: () => Unit = () => ()) {

  /** Full typed scan (the dialect's `SELECT * FROM t` entity result). */
  def ds: Dataset[T] = store.read.as[T]

  /** Insert-or-update by id. Objects with id == 0 on a @DistributedId
    * table get generated ids: strictly above every existing id, with
    * monotonically_increasing_id's partition-prefixed uniqueness — no
    * cross-executor coordination (reference: per-node id ranges,
    * core/DistributedId.java:39). With assigned ids a `Seq` is a
    * driver-local batch: one Spark job, one new file under the
    * scan-split size (TableStore). */
  def persist(objs: Seq[T]): Unit = persistDs(spark.createDataset(objs))

  // persistInsertChunk is timed at the TableStore layer (append/upsert),
  // so raw-store ingest (bench, registerStore clients) counts too —
  // mirroring the reference, whose timer wraps the chunk write itself
  def persistDs(rows: Dataset[T]): Unit = {
    beforeWrite() // session FREEZE guard (reference FREEZE halts persistence)
    val idc = meta.idCol
    val df = rows.toDF()
    val withIds =
      if (!meta.generatedId) df
      else {
        val needGen = df.filter(col(idc) === 0)
        val keepIds = df.filter(col(idc) =!= 0)
        if (needGen.isEmpty) df
        else {
          // id base from manifest stats — metadata-only, no table scan
          // per insert batch (TableStore.maxId scans only when a file
          // has no id stats, i.e. holds a NULL id)
          val base: Long =
            if (!store.exists) 0L
            else store.maxId.map(m => math.max(0L, m)).getOrElse(0L)
          keepIds.unionByName(
            needGen.withColumn(idc, lit(base + 1) + monotonically_increasing_id()))
        }
      }
    // @NoCheck id field: skip the upsert existence anti-join and append
    // directly — the reference's fast CEP-insert path (persistent/
    // Table.java:577-584, :1209: no-check tables bypass getChunkByEntity
    // and insert straight away). Caller owns id uniqueness.
    // @NoDistribute class: one output file per commit — the layout a
    // small dim table wants (broadcast-friendly single file, no
    // small-file sprawl; reference keeps such tables node-local,
    // persistent/Table.java:259-271). upsert applies it to the MERGE
    // rewrite too, not just the incoming batch.
    if (meta.noCheck)
      store.append(if (meta.noDistribute) withIds.coalesce(1) else withIds)
    else store.upsert(withIds, singleFile = meta.noDistribute)
    meta.threshold.foreach(enforceThreshold)
  }

  /** Point lookup by id (reference Session.find). */
  def find(id: Any): Option[T] = Metrics.timer("persistGetChunk").time {
    store.find(id).as[T].collect().headOption
  }

  /** @Threshold retention: keep only the newest n rows by id order.
    * Total size and candidate files come from manifest row counts —
    * the common no-op case (table under threshold) costs zero jobs,
    * and enforcement scans only the files that can hold a top-n id
    * (TableStore.newestCutoff), then truncates manifest-pruned: whole
    * files below the cutoff drop with no I/O. */
  private def enforceThreshold(n: Long): Unit =
    store.newestCutoff(n).foreach(store.deleteBelowId)
}
