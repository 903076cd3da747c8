package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: lineage cuts, checkpoint-dir changes and blanket block
  * releases live only in `graft.engine.Stage`, so one policy decides what
  * a stage becomes under block loss. */
class StageGuardSpec extends AnyFunSuite {
  test("no lineage cut or block release under src/main outside engine/Stage.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val patterns = Seq("localCheckpoint(", ".checkpoint()", "setCheckpointDir",
      "getPersistentRDDs")
    val stage = root.resolve("graft/engine/Stage.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != stage).toSeq
    val hits = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      p <- patterns if line.contains(p)
    } yield s"$f:${n + 1}: $p"
    assert(files.nonEmpty)
    assert(hits.isEmpty, hits.mkString("use graft.engine.Stage instead:\n", "\n", ""))
  }
}
