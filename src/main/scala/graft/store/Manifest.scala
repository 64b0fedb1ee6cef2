package graft.store

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{DataType, StructType}

/** One table of a store version: its schema (data columns, then the
  * partition columns), its partition columns, and its committed files
  * (path relative to the table directory → bytes).
  */
final case class TableState(schema: StructType, partitionBy: Seq[String],
    files: Map[String, Long])

/** One committed version of a store root. Version −1 is the empty root. */
final case class Snapshot(version: Long, tables: Map[String, TableState])

/** One table's part of a commit; `created` carries the schema and the
  * partition columns when the commit creates the table.
  */
final case class TableChange(table: String, adds: Map[String, Long],
    removes: Set[String] = Set.empty,
    created: Option[(StructType, Seq[String])] = None)

/** The commit log of one store root — the analog of a MergeTree's set of
  * active parts. Version N is `_manifest/vN.json`: per table, the files it
  * adds and removes and, for a table it creates, the schema — its bytes
  * follow the files it touches, never the store's size. A version is
  * committed by renaming a hidden temp file into place; [[WriterLock]]
  * keeps one committer per root. The head folds every version in order,
  * replayed from v0 when the log is opened. Readers pin the head;
  * [[awaitPinsFrom]] lets a deleter wait out every older pin.
  */
final class ManifestLog(root: String) {

  private val dir = new Path(root, "_manifest")
  private def fs = Store.fsFor(root)._1
  private def versionPath(v: Long) = new Path(dir, s"v$v.json")
  private val pins = mutable.Map[Long, (Snapshot, Int)]()

  private var current = Snapshot(-1, Map.empty)
  refresh()

  def head: Snapshot = synchronized(current)

  /** Catch up with versions committed since the head (by another process,
    * or before this log was opened): one existence check when current.
    */
  def refresh(): Unit = synchronized {
    while (fs.exists(versionPath(current.version + 1)))
      current = applied(current, current.version + 1, read(current.version + 1))
  }

  /** Commit `changes` as the next version and return it as the head. */
  def commit(changes: Seq[TableChange]): Snapshot = synchronized {
    val v = current.version + 1
    val next = applied(current, v, changes)
    if (fs.exists(versionPath(v)))
      throw new IllegalStateException(
        s"store root $root: version $v was committed by another writer")
    val tmp = new Path(dir, s".v$v.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(ManifestLog.encode(changes)) finally out.close()
    if (!fs.rename(tmp, versionPath(v)))
      throw new java.io.IOException(s"manifest commit failed: $tmp")
    current = next
    next
  }

  def pin(): Snapshot = synchronized {
    pins(current.version) = (current, pins.get(current.version).fold(1)(_._2 + 1))
    current
  }

  def unpin(version: Long): Unit = synchronized {
    val (s, n) = pins(version)
    if (n == 1) pins.remove(version) else pins(version) = (s, n - 1)
    notifyAll()
  }

  /** Files of `table` that the head or any pinned version lists. */
  def referenced(table: String): Set[String] = synchronized {
    (current +: pins.values.map(_._1).toSeq)
      .flatMap(_.tables.get(table)).flatMap(_.files.keys).toSet
  }

  /** Block until every pin holds version `v` or later. */
  def awaitPinsFrom(v: Long): Unit = synchronized {
    while (pins.keysIterator.exists(_ < v)) wait()
  }

  private def read(v: Long): Seq[TableChange] = {
    val in = fs.open(versionPath(v))
    try ManifestLog.decode(in.readAllBytes()) finally in.close()
  }

  private def applied(s: Snapshot, v: Long, changes: Seq[TableChange]) =
    Snapshot(v, changes.foldLeft(s.tables) { (ts, c) =>
      val base = c.created
        .map { case (schema, parts) => TableState(schema, parts, Map.empty) }
        .getOrElse(ts(c.table))
      ts.updated(c.table, base.copy(files = base.files -- c.removes ++ c.adds))
    })
}

object ManifestLog {
  private val json = new ObjectMapper()

  private def encode(changes: Seq[TableChange]): Array[Byte] = {
    val root = json.createObjectNode()
    for (c <- changes) {
      val t = root.putObject(c.table)
      c.created.foreach { case (schema, parts) =>
        t.set[JsonNode]("schema", json.readTree(schema.json))
        parts.foldLeft(t.putArray("partitionBy"))(_.add(_))
      }
      c.adds.foldLeft(t.putObject("add")) { case (o, (f, n)) => o.put(f, n) }
      c.removes.foldLeft(t.putArray("remove"))(_.add(_))
    }
    json.writeValueAsBytes(root)
  }

  private def decode(bytes: Array[Byte]): Seq[TableChange] =
    json.readTree(bytes).properties().asScala.toSeq.map { e =>
      val t = e.getValue
      def texts(k: String) = t.get(k).elements().asScala.map(_.asText).toSeq
      TableChange(e.getKey,
        t.get("add").properties().asScala.map(a => a.getKey -> a.getValue.asLong).toMap,
        texts("remove").toSet,
        Option(t.get("schema")).map(s =>
          (DataType.fromJson(s.toString).asInstanceOf[StructType], texts("partitionBy"))))
    }
}

/** File index over one table's committed file list: what Structured
  * Streaming's `MetadataLogFileIndex` does for a file sink's log. Planning
  * lists no directory and reads no footer; partition values come from the
  * file paths, typed by the recorded schema, and prune as usual.
  * `rootPaths` is the table directory.
  */
private[store] final class ManifestFileIndex(spark: SparkSession,
    table: Path, val state: TableState)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(state.schema)) {

  override val rootPaths: Seq[Path] = Seq(table)

  private val statuses = state.files.toSeq.sortBy(_._1).map { case (f, n) =>
    new FileStatus(n, false, 1, 128L << 20, 0L, new Path(table, f))
  }

  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.toArray.groupBy(_.getPath.getParent)

  private lazy val spec =
    if (statuses.isEmpty)
      PartitionSpec(StructType(state.partitionBy.map(state.schema(_))), Nil)
    else inferPartitioning()

  override def partitionSpec(): PartitionSpec = spec

  override def refresh(): Unit = ()

  /** Bytes of the committed files in the leaves a scan of tenant `oid`
    * (None: every tenant) over the epoch days `days` (inclusive; None:
    * every day) can select, read off the partition values of [[spec]].
    * A table not partitioned by `oid` or `date` selects every leaf on
    * that column.
    */
  def selectedBytes(oid: Option[String], days: Option[(Int, Int)]): Long = {
    val cols = spec.partitionColumns.fieldNames
    val (o, d) = (cols.indexOf("oid"), cols.indexOf("date"))
    if (cols.isEmpty) statuses.map(_.getLen).sum
    else spec.partitions.iterator
      .filter(p => o < 0 || oid.forall(t =>
        !p.values.isNullAt(o) && p.values.getUTF8String(o).toString == t))
      .filter(p => d < 0 || days.forall { case (lo, hi) =>
        !p.values.isNullAt(d) && p.values.getInt(d) >= lo && p.values.getInt(d) <= hi })
      .map(p => leafDirToChildrenFiles.get(p.path).fold(0L)(_.map(_.getLen).sum))
      .sum
  }
}
