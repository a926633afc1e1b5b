package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One way to publish: a table becomes visible only through `Layout`'s
  * commit marker (and `Merge`'s, built on it), an index only through
  * `IndexArtifact`'s `metadata.json`. A commit point is made by a create
  * that refuses to overwrite, a rename onto the published name, or a
  * marker file named by hand; this spec fails when any other main file
  * makes one. */
class PublicationInventorySpec extends AnyFunSuite {
  private val Publishers = Set("ingest/Layout.scala", "ingest/Merge.scala",
    "index/IndexArtifact.scala")

  /** Files whose rename publishes no table or index. */
  private val NotPublication = Map(
    "ingest/WriterLease.scala" -> "claims the writer lease: mutual exclusion, no data",
    "Bench.scala" -> "renames its generated input part files to .jsonl")

  private val CommitPoint =
    """\.create\(.*,\s*false\)|\.rename\(|"_graft_\w+\.json"|_SUCCESS|_applied_""".r

  /** Every main source, keyed by its path under `graft/`. */
  private lazy val sources: Map[String, String] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString -> new String(Files.readAllBytes(f), "UTF-8"))
      .toMap
  }

  private def matching(pattern: scala.util.matching.Regex): Set[String] =
    sources.collect { case (f, src) if pattern.findFirstIn(src).nonEmpty => f }.toSet

  test("no main file names Spark's _SUCCESS file or an applied-batch marker") {
    assert(matching("_SUCCESS|_applied_".r).isEmpty)
  }

  test("only Layout, Merge and IndexArtifact create a commit point") {
    val makers = matching(CommitPoint)
    assert(Publishers.subsetOf(makers), "the pattern no longer finds the helpers' commits")
    assert(NotPublication.keySet.subsetOf(makers), "an exemption no longer applies")
    assert(makers -- NotPublication.keySet == Publishers)
  }

  test("DomainCatalogs makes no FileSystem call") {
    assert("""FileSystem|getFileSystem|hadoop\.fs""".r
      .findFirstIn(sources("catalogs/DomainCatalogs.scala")).isEmpty)
  }
}
