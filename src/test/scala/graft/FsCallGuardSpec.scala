package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `VersionedTable` the one publish protocol: outside it, only
  * `Snapshots` (the benchmark's plain-parquet history swap) and
  * `Checkpoints` (checkpoint-file release) may call the filesystem.
  */
class FsCallGuardSpec extends AnyFunSuite {
  private val allowed =
    Set("VersionedTable.scala", "Snapshots.scala", "Checkpoints.scala")
  private val calls =
    Seq("getFileSystem", "FileSystem.get", ".rename(", "listStatus")

  test("no file in src/main outside the publish protocol calls the " +
      "filesystem") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala")) finally walk.close()
    assert(sources.exists(_.getFileName.toString == "VersionedTable.scala"))
    val offenders = for {
      f <- sources if !allowed(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if calls.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
