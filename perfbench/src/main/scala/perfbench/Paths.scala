package perfbench

import java.nio.file.{Files, Path, Paths => JPaths}

/** Every file the benchmark writes lives under one work directory inside
  * the checkout (`-Dperfbench.work`, set by run.py); it is removed when
  * the run ends.
  */
object Paths {
  val work: String = JPaths.get(
    sys.props.getOrElse("perfbench.work", ".bench_build/work")).toAbsolutePath.toString
  def warehouse: String = s"$work/warehouse"
  def sparkLocal: String = s"$work/spark-local"
  def dir(name: String): String = s"$work/$name"

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def deleteRecursively(p: String): Unit = deleteRecursively(JPaths.get(p))

  /** Byte copy of a directory tree (fixture clones; file IO only). */
  def copyTree(src: String, dst: String): Unit = {
    val s = JPaths.get(src); val d = JPaths.get(dst)
    val w = Files.walk(s)
    try w.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally w.close()
  }

  /** Hard-link every regular file of `src` into `dst` (same tree shape). */
  def linkTree(src: String, dst: String): Unit = {
    val s = JPaths.get(src); val d = JPaths.get(dst)
    val w = Files.walk(s)
    try w.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.createLink(t, p)
    } finally w.close()
  }

  private def files(dir: String): Seq[Path] = {
    val p = JPaths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.toArray.toSeq.map(_.asInstanceOf[Path]).filter(x =>
        Files.isRegularFile(x) && !x.getFileName.toString.endsWith(".crc"))
      finally w.close()
    }
  }

  /** Regular files under `dir` (checksum files excluded). */
  def fileCount(dir: String): Long = files(dir).size.toLong
  def fileBytes(dir: String): Long = files(dir).map(Files.size).sum
}
