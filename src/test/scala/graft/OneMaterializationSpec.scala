package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Materialize]] the one materialization policy: a Scala file
  * under `src/main` other than `Materialize.scala` that calls
  * `.localCheckpoint(` or `.checkpoint(` fails this suite by name. Pin an
  * intermediate relation through [[Materialize.pin]] (or
  * [[Materialize.pinNow]]) instead. */
class OneMaterializationSpec extends AnyFunSuite {

  // a call; streaming's checkpointLocation/checkpointDir are not calls
  // of either, and comment lines do not count
  private val call = """\.(localCheckpoint|checkpoint)\(""".r
  private val home = Paths.get("src/main/scala/graft/Materialize.scala")

  private def calls(l: String): Boolean = {
    val t = l.trim
    !t.startsWith("*") && !t.startsWith("/*") && !t.startsWith("//") &&
      call.findFirstIn(l).nonEmpty
  }

  private def callsIn(p: Path): Boolean = Files.readAllLines(p).asScala.exists(calls)

  test("the pattern finds checkpoint calls and skips streaming checkpoint options") {
    assert(calls("    val x = df.localCheckpoint(false)"))
    assert(calls("      .checkpoint()"))
    assert(!calls("""      .option("checkpointLocation", checkpointDir)"""))
    assert(!calls("    checkpointDir: String): StreamingQuery ="))
    assert(!calls("    // a comment naming df.localCheckpoint(false)"))
  }

  test("no Scala file under src/main outside Materialize.scala calls localCheckpoint or checkpoint") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq
    // the pattern is live: it finds the helper's own calls
    assert(files.contains(home) && callsIn(home),
      s"no checkpoint call found in $home")
    val strays = files.filterNot(_ == home).filter(callsIn)
    assert(strays.isEmpty,
      s"checkpoint called outside $home: ${strays.mkString(", ")}")
  }
}
