package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.sources` is the one place a MeerTRAP file becomes a row: the
  * file schemas are read there and nowhere else, and no second
  * (DataSourceV2) reader exists.
  */
class SourcesSpec extends AnyFunSuite {

  test("source guard: MeerTRAP file schemas are read in graft/sources only") {
    val files = MainSources.files
    assert(files.size > 100, s"scanned ${files.size} files under ${MainSources.root}")
    val sources = MainSources.root.resolve("graft/sources")
    val schemas = MainSources.root.resolve("graft/meertrap/Schemas.scala")
    assert(files.contains(schemas))
    val reader = """Schemas\.(runSummary|spccl)\b|TableProvider""".r
    // Control: the readers themselves match.
    assert(MainSources.matchesOutside(reader)(_ => false).exists(_.contains("Schemas.runSummary")))
    val outside = MainSources.matchesOutside(reader)(f => f.startsWith(sources) || f == schemas)
    assert(outside.isEmpty, outside.mkString("\n"))
  }
}
