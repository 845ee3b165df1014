package graft.core

import org.apache.spark.sql.types.{DataType, StructType}

/** One committed data file in a table version: name (relative to the
  * store's files/ dir), its row count (for metadata-only aggregates),
  * and optional integral-id min/max for file pruning. */
private[graft] case class FileEntry(name: String, idMin: Option[Long],
                                   idMax: Option[Long], rows: Long) {
  def overlaps(kmin: Long, kmax: Long): Boolean = (idMin, idMax) match {
    case (Some(lo), Some(hi)) => lo <= kmax && hi >= kmin
    case _ => true // no stats → always a rewrite candidate
  }
}

/** Everything one version file records: the complete file list, the
  * CUMULATIVE idempotence state (appId → last applied version, e.g. a
  * streaming sink's micro-batch id), per-file numeric column stats
  * (fileName → col → (min, max), the data-skipping stats for non-id
  * columns) and the committed table schema. Cumulative and complete on
  * purpose: every version file is self-contained, so a read resolves
  * ONE file instead of replaying the commit chain, and `vacuum` can
  * trim old versions without checkpoint machinery. The schema as of a
  * version rides IN that version: evolved tables read old files
  * against it (absent columns → null), an empty version reads as zero
  * rows under it, and time travel sees the schema as committed then. */
private[graft] final case class Snapshot(
    entries: Seq[FileEntry],
    schema: StructType,
    txn: Map[String, Long] = Map.empty,
    colStats: Map[String, Map[String, (Double, Double)]] = Map.empty) {
  def rowCount: Long = entries.map(_.rows).sum
}

private[graft] object Snapshot {
  /** The state before a store's first commit: no files, no columns. */
  val empty: Snapshot = Snapshot(Seq.empty, new StructType())
}

/** The version-log codec: `_versions/v{N}.manifest`, tab-separated,
  * one line per data file (`name\tidMin\tidMax\trows`), then
  * `#txn\tappId\tversion`, `#colstats\tfile\t{"col":[min,max],…}` and
  * one `#schema\t<StructType JSON>` line. Every file line carries a
  * row count and every version a schema; a version file without them
  * fails to decode. The commit protocol that writes these files
  * (claim + atomic rename, optimistic retry) is TableStore's. */
private[graft] object VersionLog {
  val dirName = "_versions"
  def fileName(v: Long): String = s"v$v.manifest"
  /** Version of a log-dir entry; None for claims, tmp files, checksums. */
  def versionOf(name: String): Option[Long] =
    if (name.matches("v\\d+\\.manifest"))
      Some(name.stripPrefix("v").stripSuffix(".manifest").toLong)
    else None

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Column stats of files no longer in the snapshot are dropped. */
  def encode(s: Snapshot): String = {
    def opt(o: Option[Long]) = o.map(_.toString).getOrElse("")
    val files = s.entries.map(e => s"${e.name}\t${opt(e.idMin)}\t${opt(e.idMax)}\t${e.rows}")
    val txns = s.txn.toSeq.sortBy(_._1).map { case (app, ver) => s"#txn\t$app\t$ver" }
    val names = s.entries.map(_.name).toSet
    val stats = s.colStats.toSeq.filter(e => names.contains(e._1)).sortBy(_._1)
      .map { case (file, cols) =>
        val json = cols.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
          s""""$c":[$lo,$hi]""" }.mkString("{", ",", "}")
        s"#colstats\t$file\t$json"
      }
    // StructType.json is single-line JSON with no raw tabs/newlines
    val schema = s"#schema\t${s.schema.json}"
    (files ++ txns ++ stats :+ schema).mkString("", "\n", "\n")
  }

  /** Decode the content of version file `file` (named in errors). */
  def decode(content: String, file: String): Snapshot = {
    import scala.jdk.CollectionConverters._
    def opt(s: String) = Option(s).filter(_.nonEmpty).map(_.toLong)
    def invalid(why: String) =
      new IllegalStateException(s"version file $file is not a valid manifest: $why")
    val entries = Seq.newBuilder[FileEntry]
    val txn = Map.newBuilder[String, Long]
    val colStats = Map.newBuilder[String, Map[String, (Double, Double)]]
    var schema: Option[StructType] = None
    content.split("\n").map(_.trim).filter(_.nonEmpty).foreach { line =>
      line.split("\t", -1) match {
        case Array("#txn", app, ver) => txn += app -> ver.toLong
        case Array("#colstats", name, json) =>
          colStats += name -> mapper.readTree(json).properties().asScala.map { e =>
            e.getKey -> ((e.getValue.get(0).asDouble(), e.getValue.get(1).asDouble()))
          }.toMap
        case Array("#schema", json) =>
          schema = Some(DataType.fromJson(json).asInstanceOf[StructType])
        case other if other.head.startsWith("#") => () // unknown metadata line
        case Array(n, lo, hi, rc) if rc.nonEmpty =>
          entries += FileEntry(n, opt(lo), opt(hi), rc.toLong)
        case other => throw invalid(s"the line of data file '${other.head}' has no row count")
      }
    }
    Snapshot(entries.result(), schema.getOrElse(throw invalid("no #schema line")),
      txn.result(), colStats.result())
  }
}
