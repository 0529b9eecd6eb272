package graft.tools

/** Directory cloning for the specs that copy index directories. */
object ProbeUtil {

  /** Recursive directory copy (files replaced, directories created).
    * The walk stream is closed explicitly (ADVICE r16): specs call this
    * in loops, and each unclosed stream leaks a directory handle. */
  def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}
