package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Repo hygiene: no raw control bytes in any .scala source.
  *
  * A literal NUL (or other C0 control byte outside tab/newline/CR) in a
  * source file makes grep/ripgrep treat the file as binary, hiding it
  * from every text search. Sentinels like the TopK null-group marker
  * must use the backslash-u0000 escape instead — identical semantics
  * after lexing, and the file stays text.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] =
    Files
      .walk(root)
      .iterator()
      .asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .toSeq

  test("no raw control bytes in .scala sources") {
    val roots = Seq(Paths.get("src/main/scala"), Paths.get("src/test/scala"))
    val offenders = for {
      root <- roots if Files.exists(root)
      f <- scalaFiles(root)
      bytes = Files.readAllBytes(f)
      i <- bytes.indices.find(i => bytes(i) >= 0 && bytes(i) < 32 && bytes(i) != 9 && bytes(i) != 10 && bytes(i) != 13)
    } yield s"$f: byte 0x${"%02x".format(bytes(i))} at offset $i"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every checkpoint in src/main goes through graft.Lineage") {
    // Dataset.checkpoint / localCheckpoint called anywhere but Core.scala
    // would bypass the handle registry, so releaseHeld() could not free it.
    val raw = """\.localCheckpoint\(|(?<!Lineage)\.checkpoint\(""".r
    val offenders = for {
      f <- scalaFiles(Paths.get("src/main/scala")) if f.getFileName.toString != "Core.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex if raw.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
