package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MaterializedCache

/** Direct unit pins for the shared write-once cache machinery (the IVF
  * index and the int8 codes table both ride it — a regression here
  * corrupts two no-oracle/serving families at once, so the contract is
  * pinned at the unit seam, not only through the queries). */
class MaterializedCacheSpec extends AnyFunSuite {

  /** A cache root that does not exist yet (inside a scratch tree, so it
    * goes at exit): the first build must create it. */
  private def freshRoot(): java.nio.file.Path =
    TmpDirs.scratch("mcache_spec").resolve("root")

  test("builds once, then serves the cached tree without re-building") {
    val root = freshRoot()
    var builds = 0
    def get() = MaterializedCache.getOrBuild(root, "stemA",
        "stemA_v1_100_1", "done.marker") { tmp =>
      builds += 1
      java.nio.file.Files.writeString(tmp.resolve("done.marker"), "ok")
      java.nio.file.Files.writeString(tmp.resolve("payload"), "data")
    }
    val p1 = get()
    val p2 = get()
    assert(builds === 1, "second call must hit the cache")
    assert(p1 === p2)
    assert(java.nio.file.Files.readString(p1.resolve("payload")) === "data")
  }

  test("an incomplete tree (no done marker) is rebuilt, not served") {
    val root = freshRoot()
    val idx = root.resolve("stemB_v1_5_5")
    java.nio.file.Files.createDirectories(idx)
    java.nio.file.Files.writeString(idx.resolve("payload"), "torn write")
    var builds = 0
    // ATOMIC_MOVE onto the existing residue directory fails on POSIX
    // when non-empty, so the discard-vs-surface branch is exercised:
    // without a landed marker the failure must SURFACE, not be
    // swallowed as a lost race.
    val e = intercept[java.nio.file.FileSystemException] {
      MaterializedCache.getOrBuild(root, "stemB", "stemB_v1_5_5",
          "done.marker") { tmp =>
        builds += 1
        java.nio.file.Files.writeString(tmp.resolve("done.marker"), "ok")
      }
    }
    assert(builds === 1, "the incomplete tree must trigger a rebuild")
    assert(e != null)
  }

  test("superseded siblings of the same stem are pruned; other stems kept") {
    val root = freshRoot()
    val stale = root.resolve("stemC_v1_OLD_0")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.writeString(stale.resolve("junk"), "old fingerprint")
    val other = root.resolve("stemD_v1_1_1")
    java.nio.file.Files.createDirectories(other)
    java.nio.file.Files.writeString(other.resolve("done.marker"), "ok")
    MaterializedCache.getOrBuild(root, "stemC", "stemC_v1_NEW_1",
        "done.marker") { tmp =>
      java.nio.file.Files.writeString(tmp.resolve("done.marker"), "ok")
    }
    assert(!java.nio.file.Files.exists(stale),
      "stale sibling of the same stem must be pruned")
    assert(java.nio.file.Files.exists(other.resolve("done.marker")),
      "other stems must be left alone")
  }

  test("prune is ordered: older version/mtime pruned, newer sibling kept") {
    // r14 ADVICE: two live corpora whose dirs sanitize to the SAME stem
    // must not evict each other's completed trees in a loop. The prune
    // predicate orders siblings by the key's embedded (version, mtime):
    // only genuinely superseded trees (older algorithm version, or
    // same-version older data) go; a NEWER-mtime sibling — the
    // stem-colliding live corpus case — survives our build.
    val root = freshRoot()
    def mk(name: String): java.nio.file.Path = {
      val p = root.resolve(name)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.writeString(p.resolve("done.marker"), "ok")
      p
    }
    val olderVersion = mk("stemF_v1_100_500")   // v1 < v2 → pruned
    val olderMtime   = mk("stemF_v2_100_400")   // mtime 400 < 500 → pruned
    val newerMtime   = mk("stemF_v2_100_900")   // mtime 900 > 500 → kept
    val geometryKey  = mk("stemF_v2_b48x14_100_400") // mid-key segment, older → pruned
    MaterializedCache.getOrBuild(root, "stemF", "stemF_v2_100_500",
        "done.marker") { tmp =>
      java.nio.file.Files.writeString(tmp.resolve("done.marker"), "ok")
    }
    assert(!java.nio.file.Files.exists(olderVersion), "older version must prune")
    assert(!java.nio.file.Files.exists(olderMtime), "older data must prune")
    assert(!java.nio.file.Files.exists(geometryKey),
      "keys with extra mid segments must still parse and prune by mtime")
    assert(java.nio.file.Files.exists(newerMtime.resolve("done.marker")),
      "a newer-mtime live sibling (stem-colliding corpus) must survive")
  }

  test("keyMeta parses canonical keys, with and without mid segments") {
    assert(MaterializedCache.keyMeta("s", "s_v3_12_34") === Some((3, 34L)))
    assert(MaterializedCache.keyMeta("s", "s_v3_b48x14_t095_12_34")
      === Some((3, 34L)))
    assert(MaterializedCache.keyMeta("s", "s_v3_OLD_34") === None)
    assert(MaterializedCache.keyMeta("s", "other_v3_12_34") === None)
  }

  test("crashed-build residue is pruned after an hour; a live build tree is not") {
    val root = freshRoot()
    java.nio.file.Files.createDirectories(root)
    val dead = java.nio.file.Files
      .createTempDirectory(root, ".build_")
    java.nio.file.Files.writeString(dead.resolve("partial"), "crashed")
    // age it past the 1h cutoff (tree mtime is the directory's)
    val old = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 2 * 3600000L)
    java.nio.file.Files.setLastModifiedTime(dead, old)
    val live = java.nio.file.Files
      .createTempDirectory(root, ".build_")
    MaterializedCache.getOrBuild(root, "stemE", "stemE_v1_1_1",
        "done.marker") { tmp =>
      java.nio.file.Files.writeString(tmp.resolve("done.marker"), "ok")
    }
    assert(!java.nio.file.Files.exists(dead),
      "hour-old crashed-build residue must be pruned")
    assert(java.nio.file.Files.exists(live),
      "a fresh (possibly live) build tree must survive")
  }

  test("fingerprint sums bytes and maxes mtime over a tree") {
    val dir = TmpDirs.scratch("mcache_fp")
    java.nio.file.Files.writeString(dir.resolve("a"), "12345")
    java.nio.file.Files.writeString(dir.resolve("b"), "678")
    val (bytes, mtime) = MaterializedCache.fingerprint(dir)
    assert(bytes === 8L)
    assert(mtime > 0L)
    // content growth changes the fingerprint (the cache-key property)
    java.nio.file.Files.writeString(dir.resolve("c"), "9")
    assert(MaterializedCache.fingerprint(dir)._1 === 9L)
  }
}
