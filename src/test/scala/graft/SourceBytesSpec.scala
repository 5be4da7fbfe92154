package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** No raw control byte in a source file: `grep` reads such a file as
  * binary, and a plain `grep -rn` then lists no match in it. Write the
  * character as a `\u000b`-style escape instead. The `resources` trees
  * are exempt: they hold byte-exact inputs and reference outputs (the
  * parity probe set's VT and FF documents, the reference's `ref.out`). */
class SourceBytesSpec extends AnyFunSuite {

  test("no file under src/ outside the resource trees holds a byte below 0x20 but tab, LF, CR") {
    val src = Paths.get("src")
    def isResource(p: Path): Boolean = {
      val rel = src.relativize(p)
      rel.getNameCount > 1 && rel.getName(1).toString == "resources"
    }
    val files = Files.walk(src).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !isResource(p)).toList
    val bad = files.flatMap { p =>
      val bytes = Files.readAllBytes(p)
      bytes.indices.find { i =>
        val b = bytes(i)
        b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r'
      }.map(i => f"$p: byte 0x${bytes(i)}%02x at offset $i")
    }
    assert(files.exists(_.toString.endsWith("SourceBytesSpec.scala")), s"${files.size} files walked")
    assert(bad.isEmpty, bad.mkString("raw control bytes:\n", "\n", ""))
  }
}
