package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Every `.scala` file under `src/main/scala` with its text: the one file
  * walk the lint specs share. Tests run from the repository root. */
object MainSources {
  lazy val all: Seq[(Path, String)] = {
    val root = Paths.get("src", "main", "scala")
    require(Files.isDirectory(root), s"run from the repository root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .toList
    finally walk.close()
  }
}
