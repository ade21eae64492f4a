package graft

import java.nio.file.{Files, Path, Paths}

/** Spec-generated COVERAGE.md blocks. A spec writes its measured block to
  * `target/coverage/<name>.md` (untracked), so a test run never edits a
  * tracked file; `python3 tools/refresh_coverage.py` splices the latest
  * blocks into COVERAGE.md between its `<!-- <name>:begin -->` and
  * `<!-- <name>:end -->` markers.
  */
object CoverageBlock {
  def write(name: String, body: String): Path = {
    val dir = Files.createDirectories(Paths.get("target", "coverage"))
    Files.write(dir.resolve(s"$name.md"),
      s"<!-- $name:begin -->\n${body.stripSuffix("\n")}\n<!-- $name:end -->\n"
        .getBytes("UTF-8"))
  }
}
