package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Repo hygiene: a raw control byte (e.g. a literal NUL written into a
  * string instead of the six-char backslash-u0000 escape) makes git treat the file as
  * binary and hides its history from diff tooling. Reject them at
  * test time so they cannot regress.
  */
class SourceHygieneSpec extends AnyFunSuite {

  test("no raw control bytes in Scala sources") {
    val root = Paths.get("src")
    assume(Files.exists(root), "run from the repo root")
    val offenders = {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap { p =>
          val bytes = Files.readAllBytes(p)
          val bad = bytes.indexWhere(b => b >= 0 && b < 0x20 &&
            b != '\n'.toByte && b != '\r'.toByte && b != '\t'.toByte)
          if (bad >= 0) Some(s"$p @ byte $bad (0x${"%02x".format(bytes(bad))})") else None
        }
        .toVector
      finally s.close()
    }
    assert(offenders.isEmpty, s"control bytes found:\n${offenders.mkString("\n")}")
  }

  test("the engine names no operator-library package outside doc comments") {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.exists(root), "run from the repo root")
    val library = Set("ops", "functions").map(root.resolve)
    val comment = raw"\s*(\*|/\*|//).*".r
    val offenders = {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !library.exists(p.startsWith))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if !comment.matches(line) &&
              raw"\bgraft\.(ops|functions)\b".r.findFirstIn(line).nonEmpty => s"$p:${i + 1}: ${line.trim}"
          }
        }
        .toVector
      finally s.close()
    }
    assert(offenders.isEmpty, s"engine code reaches into the operator library:\n${offenders.mkString("\n")}")
  }
}
