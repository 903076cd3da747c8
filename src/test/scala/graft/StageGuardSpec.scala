package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards: each row names patterns and the files under
  * `src/main/scala` they may appear in. Lineage cuts, checkpoint-dir
  * changes and blanket block releases live only in `graft.engine.Stage`,
  * so one policy decides what a stage becomes under block loss;
  * filesystem lookups go through `graft.engine.Fs`; `graft.ops.Stores`
  * owns the store lifecycle without reaching back into the index
  * families; demo state is an ordinary store generation, never a
  * marker-file protocol of its own. Patterns are matched against the
  * file text with all whitespace removed, so a call split across lines
  * (`FileSystem` then `.get(` on the next) is still seen. */
class StageGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def only(owner: String): String => Boolean = _ == owner
  private def except(file: String): String => Boolean = _ != file
  private val nowhere: String => Boolean = _ => false

  private val guards: Seq[(String, Seq[String], String => Boolean)] = Seq(
    ("no lineage cut or block release under src/main outside engine/Stage.scala",
      Seq("localCheckpoint(", ".checkpoint()", "setCheckpointDir", "getPersistentRDDs"),
      only("graft/engine/Stage.scala")),
    ("no filesystem lookup under src/main outside engine/Fs.scala",
      Seq("FileSystem.get("), only("graft/engine/Fs.scala")),
    ("ops/Stores.scala never names Indexes",
      Seq("Indexes"), except("graft/ops/Stores.scala")),
    ("no demo-state marker file under src/main",
      Seq("_DEMO_READY"), nowhere))

  for ((name, patterns, allowed) <- guards) test(name) {
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = for {
      f <- files if !allowed(root.relativize(f).toString)
      text = Files.readString(f).replaceAll("\\s", "")
      p <- patterns if text.contains(p)
    } yield s"$f: $p"
    assert(files.nonEmpty)
    assert(hits.isEmpty, hits.mkString(s"$name:\n", "\n", ""))
  }
}
