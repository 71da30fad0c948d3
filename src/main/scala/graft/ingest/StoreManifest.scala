package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** One parquet file of a [[ChainStore]] table: `<table>/bucket=<bucket>/<name>`,
  * its size, its row count and the lowest and highest `block_number`
  * it holds (read from its footer when it was committed). */
private[ingest] final case class DataFile(table: String, bucket: Long, name: String,
                                          bytes: Long, rows: Long, minBlock: Long, maxBlock: Long) {
  def ref: FileRef = FileRef(table, bucket, name)
}

private[ingest] final case class FileRef(table: String, bucket: Long, name: String) {
  def relative: String = s"$table/bucket=$bucket/$name"
}

/** A file a commit took out of the store at `droppedAt` (epoch ms). It
  * stays on disk for readers that resolved an older version until a
  * commit after the grace period deletes it. */
private[ingest] final case class Dropped(ref: FileRef, droppedAt: Long)

/** One step of a manifest version: what a commit changed. */
private[ingest] sealed trait Change
private[ingest] object Change {
  final case class Schema(table: String, schema: StructType) extends Change
  final case class Status(lastProcessedBlock: Long, chainHeadAtLastPoll: Long) extends Change
  final case class Add(file: DataFile) extends Change
  /** Take a live file out at `at`; it waits for garbage collection. */
  final case class Drop(ref: FileRef, at: Long) extends Change
  /** A dropped file was deleted: forget it. */
  final case class Forget(ref: FileRef) extends Change
}

/** The state of a [[ChainStore]] at one version: the only source of
  * truth for which files each table holds.
  *
  *  - `schemas`: the stored schema of every table written so far,
  *    without the `bucket` partition column;
  *  - `live`: each table's files, with size, rows and height range;
  *  - `dropped`: files no version from this one on names, waiting for
  *    their grace period to pass;
  *  - `status`: `(last_processed_block, chain_head_at_last_poll)`;
  *  - `tip`: the highest stored block, from the `blocks` files. */
private[ingest] final case class Manifest(version: Long,
                                          schemas: Map[String, StructType],
                                          live: Map[String, Vector[DataFile]],
                                          dropped: Vector[Dropped],
                                          status: Option[(Long, Long)]) {

  lazy val tip: Option[Long] = files("blocks").map(_.maxBlock).maxOption

  def files(table: String): Vector[DataFile] = live.getOrElse(table, Vector.empty)

  def buckets(table: String): Seq[Long] = files(table).map(_.bucket).distinct.sorted

  /** Every file name this version still needs on disk, live or dropped. */
  lazy val named: Set[FileRef] = live.values.flatten.map(_.ref).toSet ++ dropped.map(_.ref)

  /** The next version: this one with `changes` applied in order. */
  def applied(next: Long, changes: Seq[Change]): Manifest =
    changes.foldLeft(copy(version = next)) { (m, c) =>
      c match {
        case Change.Schema(t, s) => m.copy(schemas = m.schemas.updated(t, s))
        case Change.Status(l, h) => m.copy(status = Some((l, h)))
        case Change.Add(f) => m.copy(live = m.live.updated(f.table, m.files(f.table) :+ f))
        case Change.Drop(r, at) =>
          m.copy(live = m.live.updated(r.table, m.files(r.table).filterNot(_.ref == r)),
            dropped = m.dropped :+ Dropped(r, at))
        case Change.Forget(r) => m.copy(dropped = m.dropped.filterNot(_.ref == r))
      }
    }

  /** This version as a list of changes from the empty store: what a
    * checkpoint holds. */
  def asChanges: Seq[Change] =
    schemas.toSeq.sortBy(_._1).map { case (t, s) => Change.Schema(t, s) } ++
      status.map { case (l, h) => Change.Status(l, h) } ++
      live.toSeq.sortBy(_._1).flatMap(_._2.map(Change.Add(_))) ++
      dropped.map(d => Change.Drop(d.ref, d.droppedAt))
}

private[ingest] object Manifest {
  val empty: Manifest = Manifest(0L, Map.empty, Map.empty, Vector.empty, None)

  private val Header = "graft-chainstore-manifest 1"

  /** One change per tab-separated line, after a header line. */
  def encode(changes: Seq[Change]): String = {
    val lines = changes.map {
      case Change.Schema(t, s) => s"schema\t$t\t${s.json}"
      case Change.Status(l, h) => s"status\t$l\t$h"
      case Change.Add(f) =>
        s"add\t${f.table}\t${f.bucket}\t${f.name}\t${f.bytes}\t${f.rows}\t${f.minBlock}\t${f.maxBlock}"
      case Change.Drop(r, at) => s"drop\t${r.table}\t${r.bucket}\t${r.name}\t$at"
      case Change.Forget(r) => s"forget\t${r.table}\t${r.bucket}\t${r.name}"
    }
    (Header +: lines).mkString("", "\n", "\n")
  }

  def decode(text: String): Seq[Change] = {
    val lines = text.split("\n").toSeq
    require(lines.headOption.contains(Header), s"not a chain store manifest: ${lines.headOption}")
    lines.tail.filter(_.nonEmpty).map { line =>
      val f = line.split("\t", -1)
      f(0) match {
        case "schema" => Change.Schema(f(1), DataType.fromJson(f(2)).asInstanceOf[StructType])
        case "status" => Change.Status(f(1).toLong, f(2).toLong)
        case "add" => Change.Add(DataFile(f(1), f(2).toLong, f(3), f(4).toLong, f(5).toLong,
          f(6).toLong, f(7).toLong))
        case "drop" => Change.Drop(FileRef(f(1), f(2).toLong, f(3)), f(4).toLong)
        case "forget" => Change.Forget(FileRef(f(1), f(2).toLong, f(3)))
        case other => throw new IllegalStateException(s"unknown manifest entry '$other'")
      }
    }
  }
}

/** The versions of a store's manifest under `<root>/_manifest`.
  *
  * Version `v` is the file `<v>.delta` (the changes of commit `v`) or,
  * every [[ManifestLog.CheckpointEvery]] versions, `<v>.ckpt` (the
  * whole state at `v`), the shape of Spark's `CompactibleFileStreamLog`:
  * a commit writes O(its changes) bytes, and a reader replays at most
  * one checkpoint and the deltas after it. A version is committed by
  * writing a temp file and renaming it to its name, so a reader sees
  * a version whole or not at all. The newest version is found by
  * listing this one directory; no Spark job runs. */
private[ingest] final class ManifestLog(fs: FileSystem, val dir: Path) {
  import ManifestLog._

  private def fileOf(v: Long): Path =
    new Path(dir, if (v % CheckpointEvery == 0) s"$v.ckpt" else s"$v.delta")

  /** The committed versions on disk, ascending. */
  def versions(): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).flatMap {
      case Committed(v, _) => Some(v.toLong)
      case _ => None
    }.sorted

  /** The newest version, read from its last checkpoint and the deltas
    * after it; `prev` is reused, and only the deltas past it read,
    * while those are still on disk. A reader racing the pruning of old
    * versions lists again. */
  def latest(prev: Manifest): Manifest = {
    def attempt(): Manifest = {
      val vs = versions()
      val newest = vs.lastOption.getOrElse(0L)
      if (newest == prev.version) prev
      else {
        val ckpt = vs.filter(_ % CheckpointEvery == 0).lastOption.getOrElse(0L)
        val from =
          if (prev.version >= ckpt && prev.version < newest) prev
          else if (ckpt > 0) Manifest.empty.applied(ckpt, read(ckpt))
          else Manifest.empty
        (from.version + 1 to newest).foldLeft(from)((m, v) => m.applied(v, read(v)))
      }
    }
    try attempt()
    catch { case _: java.io.FileNotFoundException => attempt() }
  }

  private def read(v: Long): Seq[Change] = {
    val in = fs.open(fileOf(v))
    try Manifest.decode(new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8))
    finally in.close()
  }

  /** Commit `next` (one version past `prev`): a checkpoint of the whole
    * state or the delta `changes`, written to a temp file and renamed
    * into place. */
  def commit(next: Manifest, changes: Seq[Change]): Unit = {
    val target = fileOf(next.version)
    if (fs.exists(target))
      throw new IllegalStateException(s"manifest version ${next.version} already exists: another writer?")
    val text = Manifest.encode(if (next.version % CheckpointEvery == 0) next.asChanges else changes)
    val tmp = new Path(dir, s"$TempPrefix${next.version}-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, target)) throw new java.io.IOException(s"could not commit $target")
  }

  /** Delete the versions before the checkpoint that precedes the one
    * at `version`: a reader still replaying that older checkpoint
    * keeps its files. */
  def prune(version: Long): Unit =
    if (version % CheckpointEvery == 0)
      versions().filter(_ < version - CheckpointEvery).foreach(v => fs.delete(fileOf(v), false))

  /** Temp files of commits that never renamed. */
  def removeTemps(): Unit =
    if (fs.exists(dir))
      fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith(TempPrefix))
        .foreach(fs.delete(_, false))
}

private[ingest] object ManifestLog {
  /** Every this many versions the manifest is written whole. */
  val CheckpointEvery = 10L
  private val TempPrefix = "_tmp-"
  private val Committed = """(\d+)\.(delta|ckpt)""".r
}
