package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points are a closed list: a new `main` under
  * `src/main/scala` fails this spec until it is added here on purpose. */
class MainInventorySpec extends AnyFunSuite {
  private val Expected = Set(
    "graft.Bench", "graft.Verify", "graft.cli.Main",
    "graft.tools.Profile", "graft.tools.SampledCheck", "graft.tools.SchemaReport")

  /** `package.Object` of every object declaring `def main(` in `file`. */
  private def mains(file: Path): Seq[String] = {
    val src = new String(Files.readAllBytes(file), "UTF-8")
    val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1) + ".")
      .getOrElse("")
    // top-level objects only: the JVM entry point is `package.Object`
    val objects = """(?m)^(?:[\w\[\]]+\s+)*object\s+(\w+)""".r.findAllMatchIn(src).toSeq
    """\bdef main\(""".r.findAllMatchIn(src).toSeq.map { m =>
      val owner = objects.filter(_.start < m.start).lastOption
        .getOrElse(fail(s"def main( outside an object in $file"))
      pkg + owner.group(1)
    }
  }

  test("the mains under src/main/scala are exactly the listed entry points") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.flatMap(mains).toSet == Expected)
  }
}
