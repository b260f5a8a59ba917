package graft

import java.io.File
import java.nio.file.Files
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

/** Literal counts over the program sources, for the specs that keep each
  * piece of shared machinery in its one owner. */
object SourceScan {

  /** file name -> occurrences of `needle` in src/main/scala. */
  def occurrences(needle: String): Map[String, Int] = {
    val root = new File("src/main/scala")
    require(root.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    val s = Files.walk(root.toPath)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        Pattern.quote(needle).r.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).size)
      .filter(_._2 > 0).toMap
    finally s.close()
  }
}
