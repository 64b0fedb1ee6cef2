package graft.store

import scala.collection.mutable.ListBuffer

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temporary data dirs for cases that append: appends mutate a dir's
  * store, and the shared sf0.001 store's contents are load-bearing for
  * other suites. Each dir's store root lives under the default store
  * location, so it is deleted with the dir once the caller is done.
  */
object TempStores {

  /** A fresh temp data dir holding a copy of every parquet input of
    * `inputs` (nothing when None).
    */
  def create(prefix: String, inputs: Option[String]): String = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toFile
    for (src <- inputs; f <- new java.io.File(src).listFiles()
         if f.getName.endsWith(".parquet"))
      java.nio.file.Files.copy(f.toPath, new java.io.File(tmp, f.getName).toPath)
    tmp.getAbsolutePath
  }

  /** Release `dir`'s store root (writer lock, commit log, built entry)
    * and delete the root, the dir's rule storage (rule groups, marks and
    * recorded samples) and the dir. A held lock must be released first:
    * its heartbeat would otherwise re-create the deleted root.
    */
  def drop(dir: String): Unit = {
    val root = Store.rootFor(dir)
    Store.writerLocks.remove(root).foreach(_.release())
    Store.logs.remove(root)
    Store.built.remove(dir)
    val rules = graft.streaming.Rules.rulesPath(dir).stripSuffix("/rules")
    for (p <- Seq(root, rules, dir)) {
      val (fs, path) = Store.fsFor(p)
      fs.delete(path, true): Unit
    }
  }
}

/** A spec's temp data dirs ([[TempStores]]), dropped when the spec ends. */
trait TempStores extends BeforeAndAfterAll { this: Suite =>

  private val dirs = ListBuffer[String]()

  /** A temp data dir with copies of `inputs`' parquet files. */
  def tempDataDir(prefix: String,
      inputs: Option[String] = Some(graft.TestSpark.sf)): String =
    dirs.synchronized {
      val d = TempStores.create(prefix, inputs)
      dirs += d
      d
    }

  override protected def afterAll(): Unit =
    try dirs.synchronized(dirs.foreach(TempStores.drop))
    finally super.afterAll()
}
