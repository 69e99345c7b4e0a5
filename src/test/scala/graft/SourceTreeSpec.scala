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

  test("src/main writes files only through GraftBridge.writeFiles, never a DataFrame .write") {
    val main = Paths.get("src/main/scala")
    val sources = Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    // `.write` followed by a member call (`.write.mode(...)`, `.write\n  .options(...)`);
    // an output stream's `.write(bytes)` takes an argument list instead
    val dataFrameWrite = """\.write\s*\.\s*[A-Za-z]""".r
    val callers = sources.filter { p =>
      val code = new String(Files.readAllBytes(p), "UTF-8").linesIterator
        .filterNot(l => l.trim.startsWith("//") || l.trim.startsWith("*")).mkString("\n")
      dataFrameWrite.findFirstIn(code).isDefined
    }
    assert(sources.size > 50 && callers.isEmpty, s"DataFrame .write in: ${callers.mkString(", ")}")
    val helper = new String(Files.readAllBytes(
      main.resolve("org/apache/spark/sql/classic/GraftBridge.scala")), "UTF-8")
    assert(helper.contains("def writeFiles(") && helper.contains("FileFormatWriter.write("))
  }

  test("no src/main expression generates a Java loop: doGenCode calls the kernel eval runs") {
    val main = Paths.get("src/main/scala")
    val sources = Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    // a loop written as a Java string is a second copy of a kernel that eval runs in Scala
    val loops = sources.filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("for (int"))
    assert(sources.size > 50 && loops.isEmpty, s"generated Java loops in: ${loops.mkString(", ")}")
  }
}
