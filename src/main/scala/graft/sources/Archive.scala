package graft.sources

import java.io.{BufferedInputStream, File, FileInputStream}
import java.nio.file.Files
import java.util.zip.{GZIPInputStream, ZipInputStream}

/** Archive source support: fetch/expand, then run the archive's ordered
  * sub-commands against the extracted files (src/utils/archive.lisp;
  * clojure core.clj:328-399). Driver-side expansion — archives are a
  * packaging convenience, the data inside them is what scales. */
object Archive {

  /** The `.dbf` members of an expanded zip (`LOAD DBF FROM x.zip`; a
    * memo file lands next to its member). */
  def dbfMembers(dir: File): Seq[String] = {
    val members = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.toLowerCase.endsWith(".dbf"))
      .map(_.getAbsolutePath).sorted.toSeq
    require(members.nonEmpty, s"no .dbf member inside $dir")
    members
  }

  /** Expand a .zip (or single-file .gz) into a fresh temp directory,
    * which the caller deletes once its load has read the files. An
    * expansion that fails (a zip-slip entry, a read error, an
    * unsupported format) deletes the directory before it throws. */
  def expand(archivePath: String): File = {
    val dst = Files.createTempDirectory("graft-archive").toFile
    try extract(archivePath, dst)
    catch { case e: Throwable => deleteTree(dst.getPath); throw e }
    dst
  }

  private def extract(archivePath: String, dst: File): Unit = {
    val lower = archivePath.toLowerCase
    if (lower.endsWith(".zip")) {
      val zin = new ZipInputStream(
        new BufferedInputStream(new FileInputStream(archivePath)))
      try {
        var e = zin.getNextEntry
        while (e != null) {
          val f = new File(dst, e.getName)
          // zip-slip guard: entries must stay under the target dir
          require(f.getCanonicalPath.startsWith(
            dst.getCanonicalPath + File.separator),
            s"archive entry escapes extraction dir: ${e.getName}")
          if (e.isDirectory) f.mkdirs()
          else {
            f.getParentFile.mkdirs()
            Files.copy(zin, f.toPath)
          }
          zin.closeEntry()
          e = zin.getNextEntry
        }
      } finally zin.close()
    } else if (lower.endsWith(".gz")) {
      val name = new File(archivePath).getName.stripSuffix(".gz")
      val gin = new GZIPInputStream(
        new BufferedInputStream(new FileInputStream(archivePath)))
      try Files.copy(gin, new File(dst, name).toPath)
      finally gin.close()
    } else {
      throw new IllegalArgumentException(
        s"unsupported archive format: $archivePath (zip/gz)")
    }
  }

  /** Delete `path` and everything under it; a missing path is fine. */
  private[graft] def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally all.close()
    }
  }
}
