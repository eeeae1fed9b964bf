package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** The one owner of the directories query builders make (wire captures,
  * drains, replay sources, stream checkpoints, sink round trips). Each is
  * `graft_<name><digits>` in `java.io.tmpdir`; the random suffix keeps
  * builders on two threads or in two JVMs out of each other's. A built
  * frame reads its scratch lazily, so Verify, Bench and the Cli build and
  * write each query inside [[scoped]], which deletes what its thread made
  * once the output is written or the body threw. A directory made outside
  * any scope (specs, perfbench) is deleted when the JVM exits.
  */
object Scratch {
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  // the calling thread's open scopes, innermost first
  private val open =
    ThreadLocal.withInitial[List[ArrayBuffer[Path]]](() => Nil)
  Runtime.getRuntime.addShutdownHook(new Thread(() => live.forEach(delete(_))))

  /** A fresh `graft_<name><digits>`, owned by this thread's innermost
    * open scope, else by the JVM. */
  def dir(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name")
    live.add(d)
    open.get.headOption.foreach(_ += d)
    d.toString
  }

  /** Run `body`, then delete every [[dir]] this thread made in it. */
  def scoped[T](body: => T): T = {
    val mine = ArrayBuffer.empty[Path]
    open.set(mine :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      mine.foreach(delete)
    }
  }

  private def delete(d: Path): Unit = {
    scala.util.Try(org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    live.remove(d)
  }
}
