package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Tables.read]] the one schema-inferring parquet read: a Scala
  * file under `src/main` other than `Tables.scala` that reads parquet
  * without a schema (`read.parquet(`, or `read.option(…).parquet(`)
  * fails this suite by name. Such a read runs a Spark job to learn the
  * schema; read through `Tables.read` / `Tables.readUnder` /
  * `Tables.schemaOf` instead, or pass `.schema(…)`. */
class OneParquetReadSpec extends AnyFunSuite {

  private val inferringRead =
    """\bread(\s*\.\s*options?\([^()]*\))*\s*\.\s*parquet\(""".r
  private val home = Paths.get("src/main/scala/graft/Tables.scala")

  private def reads(p: Path): Boolean =
    inferringRead.findFirstIn(Files.readString(p)).isDefined

  test("no Scala file under src/main outside Tables reads parquet without a schema") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq
    // the pattern is live: it finds the loader's own call
    assert(files.contains(home) && reads(home),
      s"no schema-inferring parquet read found in $home")
    val strays = files.filterNot(_ == home).filter(reads)
    assert(strays.isEmpty,
      s"schema-inferring parquet reads outside $home: ${strays.mkString(", ")}")
  }
}
