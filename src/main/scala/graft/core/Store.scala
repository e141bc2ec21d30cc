package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Persisted stores: artifacts (an IVF index, a signature store, trained
  * weights, …) built once per fixture under `target/` and read back by
  * every query that needs them.
  *
  * A store lives at `target/<name>_<tag>_<key>_<fps>`: `tag` is the
  * fixture directory made path-safe, `key` is the store's version
  * (`v<n>`) followed by the build parameters, and `fps` fingerprints
  * each fixture table the build reads. A changed fixture, parameter or
  * version names a new directory, so a stale store is never read; bump
  * a store's version whenever its build changes what it writes.
  *
  * The build writes into a temp directory `target/.tmp-<name>-<uuid>`
  * (no store name can start with it), which is then renamed into place
  * in one atomic move. So the store directory existing means the store
  * is complete, a failed build leaves nothing behind, and when two
  * builders race (threads or JVMs) the loser drops its copy and returns
  * the winner's. */
object Store {
  private val root = Paths.get("target")

  /** The path of store `name` for fixture dir `d`, calling `build` with
    * a fresh directory path to write it into when it is not there yet.
    * `tables` are the fixture tables the build reads. */
  def materialize(name: String, key: String, d: String, tables: String*)(
      build: String => Unit): String = {
    val path = root.resolve((Seq(name, d.replaceAll("[^A-Za-z0-9.]", "_"),
      key) ++ tables.map(fixtureFp(d, _))).mkString("_"))
    if (!Files.isDirectory(path)) {
      val tmp = root.resolve(s".tmp-$name-${java.util.UUID.randomUUID}")
      try {
        build(tmp.toString)
        Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: java.io.IOException if Files.isDirectory(path) => // lost the race
      } finally deleteTree(tmp)
    }
    path.toString
  }

  /** name:size:mtime fingerprint of a fixture table's data files. */
  private def fixtureFp(d: String, table: String): String = {
    val src = Paths.get(d, s"$table.parquet")
    val files =
      if (Files.isDirectory(src)) {
        val st = Files.walk(src)
        try st.iterator().asScala.filter(Files.isRegularFile(_)).toVector
        finally st.close()
      } else Vector(src)
    val sig = files.map(p => s"${p.getFileName}:${Files.size(p)}:" +
        s"${Files.getLastModifiedTime(p).toMillis}")
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }
}
