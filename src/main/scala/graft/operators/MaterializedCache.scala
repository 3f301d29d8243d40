package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.TmpDirs

/** Write-once/probe-many cache for derived artifacts (the IVF index, the
  * quantized-codes tables, the LSH band/sketch tables, the semantic
  * centroids and prune table, the planted media corpus): a keyed
  * directory under java.io.tmpdir, built atomically on first use and
  * reused by every later probe — the build-amortization shape a 100 TB
  * serving path needs (the index/codes build is one corpus scan per
  * INGEST, not one per query).
  *
  * Every artifact goes through [[artifact]], which derives the whole
  * on-disk name from its arguments, so no call site spells a key:
  *   - root: `java.io.tmpdir/graft_<kind>`, one per [[Kind]];
  *   - stem: `{dir}_{tag}`, the corpus dir with every character outside
  *     `[A-Za-z0-9._-]` replaced by `_`, then the kind's tag (a kind
  *     without a tag, the IVF index, puts its params there instead: a
  *     different centroid count is another family, not a superseded
  *     sibling), with leading `_` and `.` dropped — Spark's file index
  *     skips a path whose name starts with either, so `/root/x` keys as
  *     `root_x_…`, never `_root_x_…`. The stem names the (corpus,
  *     config) family;
  *   - key: `{stem}_v{V}[_{params}]_{bytes}_{mtime}`. `V` is the
  *     ALGORITHM VERSION, bumped whenever the artifact's semantics
  *     change; `bytes`/`mtime` are the DATA FINGERPRINT ([[fingerprint]]:
  *     total bytes + max mtime of the source table, file or directory).
  *     Regenerated testdata or changed semantics therefore get a fresh
  *     build instead of silently reusing a stale artifact (several
  *     consumers are no-oracle queries where a stale probe would go
  *     undetected), and the fingerprint also disambiguates distinct dirs
  *     that sanitize to the same stem.
  *
  * Superseded siblings of the same stem (older algorithm version or data
  * fingerprint), and entries whose name starts with `_` or `.` (keys no
  * longer produced), are pruned on rebuild, so regenerated testdata
  * cannot accumulate stale trees in tmpdir forever. Builds land in a unique
  * temp sibling, then ATOMIC_MOVE into place: two concurrent first-builds
  * race safely (the loser discards its tree iff the winner's done marker
  * actually landed).
  */
private[graft] object MaterializedCache {

  /** The closed set of artifact kinds: [[artifact]] takes one, and
    * [[dropEntriesContaining]] walks `Kind.values`, so no cache root can
    * exist that the sweep does not know. */
  object Kind extends Enumeration {
    final class Kind(name: String, val tag: Option[String])
        extends Val(name) {
      def root: Path = Paths.get(sys.props("java.io.tmpdir"), s"graft_$this")
    }
    val IvfIndex     = new Kind("ivf_index", None)
    val Int8Codes    = new Kind("int8_codes", Some("int8"))
    val BinCodes     = new Kind("bin_codes", Some("bin"))
    val LshBands     = new Kind("lsh_bands", Some("lsh"))
    val SemCentroids = new Kind("sem_centroids", Some("semcent"))
    val SemPrune     = new Kind("sem_prune", Some("semprune"))
    val PlantedMedia = new Kind("planted_media", Some("media"))
  }
  type Kind = Kind.Kind

  /** The `kind` artifact of corpus `dir`, built from its table `source`
    * (e.g. `embeddings.parquet`) by `build` on first use; `params` are
    * the build's key parameters (e.g. `b48x14d64`), `doneMarker` a file
    * that exists only in a complete build. */
  def artifact(kind: Kind, dir: String, source: String, version: Int,
      params: String = "", doneMarker: String = "_SUCCESS")
      (build: Path => Unit): Path = {
    val (bytes, mtime) = fingerprint(Paths.get(dir, source))
    val corpus = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val (family, keyParams) = kind.tag match {
      case Some(tag) => (s"${corpus}_$tag", params)
      case None => (s"${corpus}_$params", "")
    }
    val stem = family.dropWhile(c => c == '_' || c == '.')
    val mid = if (keyParams.isEmpty) "" else s"_$keyParams"
    getOrBuild(kind.root, stem, s"${stem}_v$version${mid}_${bytes}_$mtime",
      doneMarker)(build)
  }

  /** (total bytes, max mtime millis) over a parquet file or directory —
    * the cheap content fingerprint for cache keys. */
  private[graft] def fingerprint(path: Path): (Long, Long) = {
    val walk = Files.walk(path)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((b, m), p) =>
        (b + Files.size(p), math.max(m, Files.getLastModifiedTime(p).toMillis))
      }
    finally walk.close()
  }

  /** (algorithm version, data mtime) parsed from a cache-key directory
    * name of the canonical `{stem}_v{V}[_{anything}]_{bytes}_{mtime}`
    * shape — the fields the prune predicate orders siblings by. None for
    * names that predate the versioned-key discipline. */
  private[graft] def keyMeta(stem: String, name: String): Option[(Int, Long)] =
    if (!name.startsWith(stem + "_")) None
    else {
      val KeyRe = "^v(\\d+)(?:_.+)?_(\\d+)_(\\d+)$".r
      name.drop(stem.length + 1) match {
        case KeyRe(v, _, mtime) => Some((v.toInt, mtime.toLong))
        case _ => None
      }
    }

  /** Drop every cache entry, under every [[Kind]]'s root, whose key
    * embeds one of `tokens`. [[graft.TmpDirs]] calls this at JVM exit
    * with the names of its scratch dirs: a key embeds its corpus dir, so
    * artifacts built for a throwaway corpus (a replicated scale corpus,
    * a spec fixture) go with it instead of accumulating in tmpdir forever
    * (measured 631 MB of stale graft_ivf_index entries across past
    * capture runs — each run's random scratch path is a fresh stem the
    * sibling prune can never match). Every token must be ≥ 8 chars: a
    * short or generic token would silently reclaim live artifacts for
    * other corpora, so it fails loudly instead. */
  private[graft] def dropEntriesContaining(tokens: String*): Unit = {
    tokens.foreach(t => require(t.length >= 8,
      s"dropEntriesContaining token '$t' too short (< 8 chars) — " +
        "a generic token would reclaim live cache entries for other corpora"))
    Kind.values.iterator.collect { case k: Kind => k.root }
      .filter(Files.isDirectory(_)).foreach { root =>
      val ls = Files.list(root)
      try ls.iterator().asScala
        .filter(p => tokens.exists(p.getFileName.toString.contains))
        .foreach(p => try TmpDirs.delete(p)
          catch { case _: java.io.IOException => () })
      finally ls.close()
    }
  }

  /** Return the cached directory for `key`, building it first if absent.
    * `doneMarker` is a file that exists only in a complete build (e.g.
    * the `_centroids.csv` sidecar, or parquet's `_SUCCESS`). */
  private[graft] def getOrBuild(root: Path, stem: String, key: String,
      doneMarker: String)(build: Path => Unit): Path = {
    val idx = root.resolve(key)
    if (!Files.exists(idx.resolve(doneMarker))) {
      Files.createDirectories(root)
      val ls = Files.list(root)
      // Prune (a) superseded siblings of this stem, (b) `.build_`
      // residue older than an hour — a crashed builder's temp tree is
      // never moved into place and would otherwise leak in tmpdir
      // forever; an hour is far beyond any real build, so a LIVE
      // concurrent build's tree is never touched — and (c) any other
      // name starting with `_` or `.`: [[artifact]] drops those leading
      // characters from every key, so such a tree was keyed by older
      // code and no stem's sibling prune would ever match it.
      //
      // "Superseded" is ORDERED, not just "different key" (r14 ADVICE):
      // a sibling is pruned only when its embedded algorithm version is
      // OLDER than ours, or same-version with an OLDER data mtime. Two
      // live corpora whose dirs sanitize to the same stem (the collision
      // the fingerprint key disambiguates) therefore never evict each
      // other's trees in a loop — at worst the newer-mtime corpus evicts
      // the older's tree ONCE on its first build, the older rebuilds,
      // and both trees coexist from then on. Unparseable sibling names
      // (pre-versioning residue) still prune.
      val staleBuildCutoff = System.currentTimeMillis() - 3600000L
      val myMeta = keyMeta(stem, key)
      try ls.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          def superseded = (keyMeta(stem, n), myMeta) match {
            case (Some((sv, sm)), Some((mv, mm))) =>
              sv < mv || (sv == mv && sm < mm)
            case (None, _) => true // legacy / unversioned residue
            case _ => false
          }
          val supersededSibling =
            n.startsWith(stem + "_") && n != key && !n.startsWith(".build_") &&
              superseded
          def crashedBuild =
            n.startsWith(".build_") &&
              (try Files.getLastModifiedTime(p).toMillis < staleBuildCutoff
               catch { case _: java.io.IOException => false })
          def unreachableKey =
            (n.startsWith("_") || n.startsWith(".")) && !n.startsWith(".build_")
          supersededSibling || crashedBuild || unreachableKey
        }
        .foreach(p => try TmpDirs.delete(p) catch { case _: java.io.IOException => () })
      finally ls.close()
      val tmp = Files.createTempDirectory(root, ".build_")
      try {
        build(tmp)
        Files.move(tmp, idx, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        // A failed rename onto the winner's tree surfaces as ENOTEMPTY /
        // EEXIST / EACCES depending on platform — all FileSystemException.
        // Losing the race is fine only if the winner's build actually
        // landed; otherwise the failure must surface.
        case _: java.nio.file.FileSystemException
            if Files.exists(idx.resolve(doneMarker)) =>
          try TmpDirs.delete(tmp) catch { case _: java.io.IOException => () }
        case e: Throwable =>
          try TmpDirs.delete(tmp) catch { case _: java.io.IOException => () }
          throw e
      }
    }
    idx
  }
}
