package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The text of the main sources, read once per test JVM: the shared input
  * of the guards that fail when main code breaks a structural rule. */
object MainSources {

  /** Every regular file under `src/main`, with its UTF-8 text. */
  lazy val files: Seq[(Path, String)] = read(Paths.get("src/main"))

  /** Every regular file under `root`, with its UTF-8 text, in walk order. */
  def read(root: Path): Seq[(Path, String)] = {
    require(Files.isDirectory(root), s"no $root under ${root.toAbsolutePath}")
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally stream.close()
  }
}
