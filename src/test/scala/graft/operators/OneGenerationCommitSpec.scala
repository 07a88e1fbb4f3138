package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Upsert.commitVersioned]] the one generation commit: a Scala
  * file under `src/main` other than `operators/Upsert.scala` that calls
  * `saveGeneration(` fails this suite by name. A versioned write stages
  * its files through `Upsert.commitVersioned`, which moves them in,
  * carries the survivors and the blooms, and commits the generation. */
class OneGenerationCommitSpec extends AnyFunSuite {

  // a call, not the definition; comment lines do not count
  private val call = """(?<!def )\bsaveGeneration\(""".r
  private val home = Paths.get("src/main/scala/graft/operators/Upsert.scala")

  private def calls(p: Path): Boolean =
    Files.readAllLines(p).asScala.exists { l =>
      val t = l.trim
      !t.startsWith("*") && !t.startsWith("/*") && !t.startsWith("//") &&
        call.findFirstIn(l).nonEmpty
    }

  test("no Scala file under src/main outside Upsert calls saveGeneration") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq
    // the pattern is live: it finds the one use
    assert(files.contains(home) && calls(home),
      s"no saveGeneration( call found in $home")
    val strays = files.filterNot(_ == home).filter(calls)
    assert(strays.isEmpty,
      s"saveGeneration( called outside $home: ${strays.mkString(", ")}")
  }
}
