package graft

import java.nio.file.{Files, Path, Paths}

import graft.operators.{BinaryQuant, Embeddings, MaterializedCache}
import graft.streaming.StreamingOps
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Lifetimes of the trees the engine leaves under java.io.tmpdir: a
  * harness tree goes when its query fails, and the cache entries built
  * for a scratch corpus go with that corpus's name. */
class TmpDirsSpec extends AnyFunSuite with SparkFixture {

  /** The entries of `dir`; none when another process deleted it first
    * (tmpdir is shared, and its trees come and go). */
  private def list(dir: Path): Seq[Path] =
    try {
      val ls = Files.list(dir)
      try ls.iterator().asScala.toList finally ls.close()
    } catch { case _: java.nio.file.NoSuchFileException => Nil }

  private val tmp = Paths.get(sys.props("java.io.tmpdir"))

  test("stream_upsert on an empty events table fails its require and leaves no harness tree") {
    val dir = TmpDirs.scratch("graft_empty_events")
    Tables.events(spark, sf0001).limit(0)
      .write.parquet(dir.resolve("events.parquet").toString)
    def harnessTrees = list(tmp).map(_.getFileName.toString)
      .filter(_.startsWith("graft_stream_upsert")).toSet
    val before = harnessTrees
    val e = intercept[IllegalArgumentException] {
      StreamingOps.qStreamUpsert(spark, dir.toString)
    }
    assert(e.getMessage.contains("requires a non-empty events table"))
    // a tree that appeared during the call is this call's, or a live run
    // of another process on the same tmpdir; the latter goes when that
    // run ends, a leaked one never does
    val deadline = System.currentTimeMillis() + 60000L
    def leaked = harnessTrees -- before
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(500)
    assert(leaked === Set.empty)
  }

  test("dropping by a scratch dir's name leaves no cache entry keyed on it") {
    val dir = TmpDirs.scratch("graft_drop_spec")
    Files.copy(Paths.get(sf0001, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val name = dir.getFileName.toString
    // every `graft_*` dir in tmpdir, cache roots and scratch trees alike:
    // a root the sweep does not know still shows here
    def keyedOnName = list(tmp)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("graft_"))
      .flatMap(root => list(root).filter(_.getFileName.toString.contains(name))
        .map(e => s"${root.getFileName}/${e.getFileName}"))
    BinaryQuant.qBinaryTopK(spark, dir.toString).collect()
    Embeddings.qQuantizedProbe(spark, dir.toString).collect()
    assert(keyedOnName.map(_.takeWhile(_ != '/')).toSet ===
      Set("graft_bin_codes", "graft_int8_codes"))
    MaterializedCache.dropEntriesContaining(name)
    assert(keyedOnName === Seq.empty)
  }
}
