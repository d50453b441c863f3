package graft

import java.nio.file.Files
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories for a spec: each [[tempRoot]] is a fresh directory
  * under `java.io.tmpdir`, and every one the suite handed out is deleted
  * recursively once the suite has run. A suite that overrides
  * `afterAll` calls `super.afterAll()` last, after it has released
  * whatever still reads those roots (a streaming query, say). */
trait TempRoots extends BeforeAndAfterAll { self: Suite =>

  private val roots = scala.collection.mutable.ListBuffer.empty[String]

  def tempRoot(prefix: String): String = roots.synchronized {
    roots += Files.createTempDirectory(prefix).toString
    roots.last
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally roots.synchronized(roots.foreach(graft.job.SnapshotStore.deleteRecursively))
}
