package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[RawLayer.appendPartitioned]] the one partition-grain
  * overwrite write: a Scala file under `src/main` other than
  * `sources/RawLayer.scala` that names `partitionOverwriteMode` fails
  * this suite by name. Land through `RawLayer.appendPartitioned`, or
  * through [[graft.streaming.StreamSink.writeBatch]] for a `_batch_id`
  * log. */
class OnePartitionOverwriteSpec extends AnyFunSuite {

  private val pattern = "partitionOverwriteMode"
  private val home = Paths.get("src/main/scala/graft/sources/RawLayer.scala")

  private def names(p: Path): Boolean = Files.readString(p).contains(pattern)

  test("no Scala file under src/main outside RawLayer names partitionOverwriteMode") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq
    // the pattern is live: it finds the one use
    assert(files.contains(home) && names(home),
      s"no $pattern found in $home")
    val strays = files.filterNot(_ == home).filter(names)
    assert(strays.isEmpty,
      s"$pattern named outside $home: ${strays.mkString(", ")}")
  }
}
