package graft.sources

import java.nio.file.{Files, Paths}

/** The srai reference checkout whose `tests/` tree holds the golden parquet
  * fixtures (Poznań/Wrocław regions, features and joint pairs) read by the
  * golden specs and [[FixtureGen]]. This is the one place its root is
  * named; a missing fixture fails at once, naming the file it needed. */
object ReferenceFixtures {
  val Root = "/root/reference"

  /** Path of `rel` under [[Root]]; throws, naming the file, if it is absent. */
  def apply(rel: String): String = {
    val p = Paths.get(Root, rel)
    if (!Files.isRegularFile(p))
      throw new java.io.FileNotFoundException(s"golden fixture missing: $p " +
        s"(these checks need the srai reference checkout at $Root)")
    p.toString
  }
}
