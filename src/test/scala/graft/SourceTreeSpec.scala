package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Properties of the source tree itself, checked from the project root. */
class SourceTreeSpec extends AnyFunSuite {

  test("no file under src/ holds a NUL byte, so grep reads every source as text") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src.resolve("main/scala/graft")), s"run from the project root: $src")
    val files = Files.walk(src).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val withNul = files.filter((p: Path) => Files.readAllBytes(p).contains(0.toByte))
    assert(files.size > 100 && withNul.isEmpty, s"NUL bytes in: ${withNul.mkString(", ")}")
  }
}
