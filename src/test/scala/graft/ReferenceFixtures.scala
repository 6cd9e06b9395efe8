package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** RecordManager's own test fixtures, which the parity specs compare
  * against. They are read from a RecordManager checkout named `reference`
  * next to this repository (specs run from the repository root).
  */
object ReferenceFixtures {
  val Root: Path = Paths.get("..", "reference", "tests", "fixtures").toAbsolutePath.normalize

  /** The fixture at `rel` under [[Root]]. A missing file fails naming the
    * absent checkout, not with a bare file-not-found.
    */
  def path(rel: String): Path = {
    val p = Root.resolve(rel)
    if (!Files.isRegularFile(p))
      throw new java.io.FileNotFoundException(
        s"RecordManager reference checkout not found: fixture $rel is missing under $Root"
      )
    p
  }

  def text(rel: String): String = new String(Files.readAllBytes(path(rel)), UTF_8)
}
