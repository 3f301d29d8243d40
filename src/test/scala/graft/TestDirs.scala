package graft

/** Temp fixture dirs for specs, with a shutdown sweep of any
  * [[graft.operators.MaterializedCache]] entries keyed on the dir name:
  * the gate specs (mm_neardup, dedup_semantic) build planted-media /
  * semantic-prune / codes artifacts for their throwaway corpora, and
  * without the sweep every `sbt test` run leaves a few hundred KB of
  * orphaned cache entries in tmpdir forever (the graft.Scale
  * dropEntriesContaining discipline, applied to tests). */
object TestDirs {
  def scratch(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      try graft.operators.MaterializedCache
        .dropEntriesContaining(p.getFileName.toString)
      catch { case _: Exception => () }
      try {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      } catch { case _: Exception => () }
    }
    p.toString
  }
}
