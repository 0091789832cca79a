package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Sources hold no raw control bytes: one makes `grep` treat the file as
  * binary, and an invisible byte in a string literal is easy to change by
  * accident. Write such characters as escapes (`\u0000`). */
class SourceBytesSpec extends AnyFunSuite {

  private def isControl(b: Byte): Boolean =
    (b >= 0x00 && b <= 0x08) || (b >= 0x0e && b <= 0x1f)

  test("no .scala source under src/ contains a byte in 0x00-0x08 or 0x0E-0x1F") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"source root not found: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sources: List[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty)
    val offenders = sources.flatMap { p =>
      val bytes = Files.readAllBytes(p)
      val at = bytes.indexWhere(isControl)
      if (at < 0) None else Some(f"$p (byte 0x${bytes(at)}%02x at offset $at)")
    }
    assert(offenders.isEmpty, s"raw control bytes in:\n${offenders.mkString("\n")}")
  }
}
