package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the driver-generated parquet layout
  * (`<dir>/<name>.parquet`). Mirrors the reference's table-name →
  * storage mapping (reference: persistent/Session.java:181-277
  * registerTable) without the frame storage engine: Spark's parquet
  * scan replaces the frame chain (reference: sql/SQLTable.java:58-139).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The driver's events table carries TIMESTAMP(NANOS); this flag must
    * be on before any scan touches it. Set once per session. */
  private def ensureNanosConf(spark: SparkSession): Unit = {
    val k = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(k).contains("true")) spark.conf.set(k, "true")
  }

  /** Schema per table file — the testdata tables are immutable within a
    * run, so one footer read serves every GraftSession/query in the JVM
    * (each gate query builds a fresh session; without the cache each one
    * re-ran schema inference — a listing + footer read per table). The
    * cache key includes the file's (mtime, size) footprint, so a fixture
    * regenerated in-place with a different schema is picked up on the
    * next load instead of silently serving the stale inferred schema
    * (mutable tables go through TableStore, never through here). */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), org.apache.spark.sql.types.StructType]
  private def schemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val f = new java.io.File(path)
    schemaCache.getOrElseUpdate((path, f.lastModified, f.length),
      spark.read.parquet(path).schema)
  }

  /** Top-level INT64 columns annotated TIMESTAMP(NANOS) in the parquet
    * FOOTER — the columns Spark surfaces as raw longs under
    * nanosAsLong. Driven by file metadata, not table/column names, so
    * a nanos column in ANY table converts (the r8 version keyed on
    * `events.ts` and would have passed other tables' nanos columns
    * through as bare longs). One footer read per file footprint,
    * cached like the schema; for a directory of part files the first
    * footer speaks for the table (Spark's nanosAsLong read is likewise
    * uniform per column — mixed per-file nanos/micros in ONE column is
    * not a shape parquet writers produce). */
  private val nanosCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Set[String]]
  private[core] def nanosLongCols(spark: SparkSession, path: String): Set[String] = {
    val f = new java.io.File(path)
    nanosCache.getOrElseUpdate((path, f.lastModified, f.length), {
      val file =
        if (f.isDirectory)
          f.listFiles().find(c => c.getName.endsWith(".parquet") && !c.getName.startsWith("_"))
            .orElse(f.listFiles().find(c => c.isFile && !c.getName.startsWith("_") && !c.getName.startsWith(".")))
            .map(_.getPath)
        else Some(path)
      file.fold(Set.empty[String]) { p =>
        import org.apache.parquet.schema.LogicalTypeAnnotation
        import scala.jdk.CollectionConverters._
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), spark.sparkContext.hadoopConfiguration)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
          case fld if fld.isPrimitive &&
            (fld.asPrimitiveType.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
              case _ => false
            }) => fld.getName
        }.toSet
        finally reader.close()
      }
    })
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureNanosConf(spark)
    val p = s"$dir/$name.parquet"
    fixup(nanosLongCols(spark, p), spark.read.schema(schemaOf(spark, p)).parquet(p))
  }

  /** Streaming scan of the same table (backlog + tail — the reference's
    * SELECT STREAM source, sql/SQLCursor.java:339-430). */
  def loadStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureNanosConf(spark)
    // file stream sources need a directory basePath; select the single
    // table file with a glob filter
    fixup(nanosLongCols(spark, s"$dir/$name.parquet"),
      spark.readStream.schema(schemaOf(spark, s"$dir/$name.parquet"))
        .option("basePath", dir)
        .option("pathGlobFilter", s"$name.parquet")
        .parquet(dir))
  }

  /** Canonicalize every parquet timestamp flavor the lake can carry to
    * one engine-internal type: TIMESTAMP (with local-tz semantics, session
    * pinned UTC). The fixture has already shipped three flavors across
    * rounds — TIMESTAMP(NANOS) (read as long via nanosAsLong, truncated
    * to micros with integer DIV: ns-since-epoch exceeds double's 2^53
    * mantissa), timestamp[us] with no tz annotation (Spark 4 infers
    * TIMESTAMP_NTZ, which rejects BIGINT casts / unix_micros / event-time
    * watermarks), and tz-annotated micros (already canonical). INT96
    * arrives as TimestampType natively. Under the pinned UTC session the
    * NTZ→TIMESTAMP cast is bit-identical. Applied to ALL tables and ALL
    * timestamp columns — a 100 TB lake mixes flavors file-by-file, so the
    * registry, not each query, owns normalization (TimestampFlavorSpec
    * locks the contract). */
  private[core] def fixup(nanosCols: Set[String], df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType if nanosCols.contains(f.name) =>
          d.withColumn(f.name, timestamp_micros(expr(s"`${f.name}` DIV 1000")))
        case TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
  }
}
