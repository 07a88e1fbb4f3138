package graft.obs

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Obs]] the one listener implementation: a Scala file under
  * `src/` outside `src/main/scala/graft/obs/` that declares a Spark or
  * query-execution listener fails this suite by name. Measure through
  * [[Obs.measure]] instead. */
class OneListenerSpec extends AnyFunSuite {

  private val declaration =
    """\b(new|extends|with)\s+([\w.]+\.)?(SparkListener|SparkListenerInterface|QueryExecutionListener)\b""".r
  private val home = Paths.get("src/main/scala/graft/obs")

  private def declares(p: Path): Boolean =
    declaration.findFirstIn(Files.readString(p)).isDefined

  test("no Scala file outside graft/obs declares a SparkListener or a QueryExecutionListener") {
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq
    // the pattern is live: it finds the one implementation
    assert(files.filter(_.startsWith(home)).exists(declares),
      s"no listener declaration found under $home")
    val strays = files.filterNot(_.startsWith(home)).filter(declares)
    assert(strays.isEmpty,
      s"listeners declared outside $home: ${strays.mkString(", ")}")
  }
}
