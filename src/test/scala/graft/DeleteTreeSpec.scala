package graft

import graft.pipeline.TableIO
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The one recursive delete the pipeline, catalog and streaming stores
  * share: children before parents, and a missing root is not an error.
  */
class DeleteTreeSpec extends AnyFunSuite {

  test("deleteTree removes a nested tree and is a no-op on a missing path") {
    val root = Files.createTempDirectory("graft-delete-tree")
    val leaf = Files.createDirectories(root.resolve("bucket=1/part"))
    Files.write(leaf.resolve("a.parquet"), Array[Byte](1, 2, 3))
    Files.write(root.resolve("manifest.json"), Array[Byte](4))
    TableIO.deleteTree(root)
    assert(!Files.exists(root))
    TableIO.deleteTree(root)
  }
}
