package graft.perfbench

import java.nio.file.{Files, Path, Paths}

/** Corpus directories of a run. The seeded inputs themselves are generated
  * by the harness script before the JVM starts; this side only copies
  * them, so that a pass can get a corpus no artifact has seen. */
object Corpus {
  /** A byte-identical copy of a corpus under a new path. Artifacts that
    * graft keys by corpus fingerprint (path, file sizes, mtimes) start
    * cold on it, while the expected outputs stay those of the source. */
  def freshCopy(from: String, to: String): Long = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val st = Files.walk(src)
    try st.toArray.toSeq.map(_.asInstanceOf[Path]).map { f =>
      val d = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) { Files.createDirectories(d); 0L }
      else { Files.copy(f, d); Files.size(d) }
    }.sum
    finally st.close()
  }

  def treeBytes(dir: String): Long = {
    val st = Files.walk(Paths.get(dir))
    try st.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

}
