package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The engine's source files, for the guards that pin where a construct
  * may appear.
  */
object MainSources {

  val root: Path = Paths.get("src/main/scala")

  /** Every `.scala` file under [[root]]. */
  lazy val files: Seq[Path] = Files.walk(root).iterator.asScala
    .filter(_.toString.endsWith(".scala")).toSeq

  def read(f: Path): String = new String(Files.readAllBytes(f), UTF_8)

  /** `<file>: <match>` for each match of `pattern` in the files `allowed`
    * rejects.
    */
  def matchesOutside(pattern: Regex)(allowed: Path => Boolean): Seq[String] =
    for {
      f <- files if !allowed(f)
      m <- pattern.findAllMatchIn(read(f))
    } yield s"$f: ${m.matched}"
}
