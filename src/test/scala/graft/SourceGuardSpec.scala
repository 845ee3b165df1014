package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree rules no compiler checks: every pin in main code goes
  * through core/Checkpoints, and the deleted pin-mode conf stays gone. */
class SourceGuardSpec extends AnyFunSuite {

  private def files(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).toVector
      finally walk.close()
    }
  }

  private def containing(paths: Seq[Path], needle: String): Seq[String] =
    paths.filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(_.toString).sorted

  test("only core/Checkpoints.scala calls localCheckpoint in main code") {
    val callers = containing(files("src/main"), ".localCheckpoint(")
    assert(callers == Seq("src/main/scala/graft/core/Checkpoints.scala"))
  }

  test("no source, script or test names the deleted pin-mode conf") {
    val conf = "spark.graft." + "pin.mode"
    val paths = Seq("src", "scripts", "perfbench").flatMap(files)
      .filter(p => Seq(".scala", ".py", ".sh", ".sbt", ".properties").exists(p.toString.endsWith))
    assert(containing(paths, conf).isEmpty)
  }
}
