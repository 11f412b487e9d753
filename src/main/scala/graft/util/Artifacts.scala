package graft.util

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The one owner of the artifacts the query modules derive from a corpus
  * and keep for the life of the process: staged lake dirs, folded
  * indexes, trained models and codebooks, ANN ground truth.
  *
  * Keying. An entry is keyed by `(name, dir, tables)` and holds the value
  * built from the tables' fingerprint: file count, total bytes and newest
  * mtime over `dir/<table>.parquet`. A corpus regenerated under the same
  * path changes the fingerprint, so the next call rebuilds; checking it
  * costs a directory listing, no Spark job. A same-size, same-count
  * rewrite inside one mtime granule stays invisible (hashing contents
  * would cost a full read).
  *
  * Eviction. A miss drops every entry with the same `dir` and the same
  * `tables` whose fingerprint differs. Entries over other tables of that
  * dir are current artifacts and stay.
  *
  * Build-once. Each key has one cell, and concurrent callers of a key wait
  * for its single build. Builds run Spark jobs and may call [[memo]] for
  * other keys. A build that throws leaves no entry and no dirs, and the
  * next call builds again.
  *
  * Staged dirs. Dirs made through the [[Scratch]] handed to a build belong
  * to that entry: they are deleted when it is evicted or its build fails.
  * [[clear]] deletes every entry and every dir the store made, and so does
  * JVM exit.
  */
object Artifacts {

  /** Staging-dir allocator handed to a build; its dirs die with the entry. */
  final class Scratch private[Artifacts] () {
    private val dirs = scala.collection.mutable.Buffer.empty[String]
    def dir(prefix: String): String = synchronized {
      val d = scratch(prefix)
      dirs += d
      d
    }
    private[Artifacts] def delete(): Unit = synchronized {
      dirs.foreach(deleteDir)
      dirs.clear()
    }
  }

  private final case class Key(name: String, dir: String, tables: Seq[String])

  /** One key's build-once cell for one fingerprint. */
  private final class Cell(key: Key, val fp: (Int, Long, Long)) {
    val scratch = new Scratch
    private var value: Option[Any] = None
    private var failed = false

    /** The built value, or None when another caller's build failed. */
    def get(build: Scratch => Any): Option[Any] = synchronized {
      if (value.isEmpty && !failed)
        try value = Some(build(scratch))
        catch {
          case e: Throwable =>
            failed = true
            cells.remove(key, this)
            scratch.delete()
            throw e
        }
      value
    }
  }

  private val cells = TrieMap.empty[Key, Cell]
  private val live = ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(clear())

  /** The artifact `name` derived from `tables` under `dir`, built once per
    * fingerprint of those tables.
    */
  def memo[V](name: String, dir: String, tables: Seq[String])(
      build: Scratch => V): V = {
    val key = Key(name, dir, tables)
    val fp = fingerprint(dir, tables)
    val cell = cells.get(key).filter(_.fp == fp).getOrElse {
      for ((k, c) <- cells if k.dir == dir && k.tables == tables && c.fp != fp)
        if (cells.remove(k, c)) c.scratch.delete()
      val fresh = new Cell(key, fp)
      cells.putIfAbsent(key, fresh).getOrElse(fresh)
    }
    cell.get(build) match {
      case Some(v) => v.asInstanceOf[V]
      case None => memo(name, dir, tables)(build)
    }
  }

  /** A fresh temp dir owned by the store, deleted by [[clear]] or JVM exit. */
  def scratch(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    live.add(d)
    d
  }

  /** Drops every entry and deletes every dir the store made. */
  def clear(): Unit = {
    cells.clear()
    live.asScala.toSeq.foreach(deleteDir)
  }

  /** Names of the entries currently held for `dir` (for specs). */
  private[graft] def names(dir: String): Set[String] =
    cells.keys.filter(_.dir == dir).map(_.name).toSet

  private def fingerprint(dir: String, tables: Seq[String]): (Int, Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = tables.flatMap(t => walk(new File(s"$dir/$t.parquet")))
    (files.size, files.map(_.length).sum,
      files.map(_.lastModified).foldLeft(0L)(math.max))
  }

  /** Best-effort recursive delete: a leftover dir costs disk, never
    * correctness.
    */
  private def deleteDir(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    try rm(new File(path)) catch { case _: Exception => () }
    live.remove(path)
  }
}
