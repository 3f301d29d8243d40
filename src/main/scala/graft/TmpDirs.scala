package graft

import java.nio.file.{Files, Path}

/** Owner of every scratch tree under java.io.tmpdir, and of the one
  * recursive delete. A tree has one of two lifetimes:
  *
  *   - [[scratch]]: until JVM exit. For trees a LAZY frame still reads
  *     after the call returns (the through-storage harness queries build
  *     a real table/layout per call), for the scale harness's replicated
  *     corpora and for spec fixtures. One shutdown hook deletes them all,
  *     and first drops every [[graft.operators.MaterializedCache]] entry
  *     keyed on a scratch dir's name, so artifacts built for a throwaway
  *     corpus go with it (measured ~1 GB of harness residue across one
  *     round's bench runs before the hook, and 631 MB of stale cache
  *     entries keyed on past scale corpora).
  *   - [[scoped]]: until its body returns or throws. For harness trees
  *     nothing reads after the call (the stream replays' landing dirs,
  *     checkpoints and table versions), so a failed query leaks nothing.
  */
object TmpDirs {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    val dirs = created.toArray(Array.empty[Path]).toSeq
    // exit path: best effort
    try graft.operators.MaterializedCache
      .dropEntriesContaining(dirs.map(_.getFileName.toString): _*)
    catch { case _: Exception => () }
    dirs.foreach(p => try delete(p) catch { case _: Exception => () })
  }, "graft-tmpdir-cleanup"))

  /** A fresh `prefix…` dir under tmpdir, deleted at JVM exit together
    * with the cache entries keyed on its name. */
  def scratch(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    created.add(p)
    p
  }

  /** `body` on a fresh `prefix…` dir under tmpdir, deleted when `body`
    * returns or throws. */
  def scoped[A](prefix: String)(body: Path => A): A = {
    val p = Files.createTempDirectory(prefix)
    try body(p) finally delete(p)
  }

  /** Delete the tree at `p` (children first); a missing tree is a no-op. */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
