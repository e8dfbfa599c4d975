package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spec-pins [[ArtifactStore.reapStale]] — the reaper every persisted
  * artifact family shares (r16 verdict #5). Pure-filesystem: no
  * Spark session; age is injected via File.setLastModified (never sleeps).
  * The three dead classes and their live complements:
  *   1. a superseded source-mtime dir survives INSIDE the 1 h age guard
  *      and is reaped once aged; the current and any NEWER-mtime dir are
  *      never reaped regardless of age;
  *   2. a crashed builder's `.tmp-` dir follows the same guard — a fresh
  *      one (a builder mid-write) is never reaped;
  *   3. version siblings of the whole family are reaped only when
  *      STRICTLY OLDER than [[ArtifactStore.Version]] (bare
  *      pre-versioning dir counts as v0) — a NEWER version sibling (an
  *      upgraded binary sharing the tmpdir) is someone else's live data
  *      and survives even aged, as does the current famDir itself. */
class ArtifactReapSpec extends AnyFunSuite {

  private val HourMs = 60L * 60 * 1000

  /** Fresh sandbox per test: parent/<fam>-v1 with the current artifact
    * dir inside, everything stamped `aged` ms in the past. */
  private def sandbox(): (java.io.File, java.io.File) = {
    val parent = java.nio.file.Files.createTempDirectory("graft-reap-spec").toFile
    val fam = new java.io.File(parent, s"graft-test-fam-${ArtifactStore.Version}")
    assert(fam.mkdirs())
    (parent, fam)
  }

  /** A dir with one marker file, lastModified forced to now-`ageMs`. */
  private def mkDir(parent: java.io.File, name: String, ageMs: Long): java.io.File = {
    val d = new java.io.File(parent, name)
    assert(d.mkdirs())
    val f = new java.io.File(d, "_SUCCESS")
    assert(f.createNewFile())
    assert(d.setLastModified(System.currentTimeMillis() - ageMs))
    d
  }

  private val key = "sf0.001"
  private val mtime = 1000000L

  test("superseded-mtime dir: survives inside the age guard, reaped after") {
    val (parent, fam) = sandbox()
    try {
      val freshOld = mkDir(fam, s"$key-m${mtime - 1}", ageMs = 0)
      ArtifactStore.reapStale(fam.getPath, key, mtime)
      assert(freshOld.exists(), "superseded dir inside the guard must survive (a lazy reader may hold it)")
      assert(freshOld.setLastModified(System.currentTimeMillis() - 2 * HourMs))
      ArtifactStore.reapStale(fam.getPath, key, mtime)
      assert(!freshOld.exists(), "aged superseded dir must be reaped")
    } finally graft.sources.LocalArtifacts.deleteRecursively(parent)
  }

  test("current and newer-mtime dirs are never reaped, even aged") {
    val (parent, fam) = sandbox()
    try {
      val cur = mkDir(fam, s"$key-m$mtime", ageMs = 2 * HourMs)
      val newer = mkDir(fam, s"$key-m${mtime + 1}", ageMs = 2 * HourMs)
      val otherKey = mkDir(fam, s"sf0.01-m${mtime - 1}", ageMs = 2 * HourMs)
      ArtifactStore.reapStale(fam.getPath, key, mtime)
      assert(cur.exists(), "the current artifact is live data")
      assert(newer.exists(), "a newer-source artifact (another process's regen) is live data")
      assert(otherKey.exists(), "another sf dir's artifact is out of scope for this key")
    } finally graft.sources.LocalArtifacts.deleteRecursively(parent)
  }

  test("crashed-builder .tmp- dir: fresh survives (builder mid-write), aged is reaped") {
    val (parent, fam) = sandbox()
    try {
      val live = mkDir(fam, s"$key-m$mtime.tmp-123-4", ageMs = 0)
      ArtifactStore.reapStale(fam.getPath, key, mtime)
      assert(live.exists(), "a fresh .tmp- dir is a builder mid-write; never reap inside the guard")
      assert(live.setLastModified(System.currentTimeMillis() - 2 * HourMs))
      ArtifactStore.reapStale(fam.getPath, key, mtime)
      assert(!live.exists(), "an aged .tmp- dir is a crashed builder; reap it")
    } finally graft.sources.LocalArtifacts.deleteRecursively(parent)
  }

  test("version siblings: strictly-older reaped once aged, newer and current never") {
    val (parent, fam) = sandbox()
    try {
      mkDir(fam, s"$key-m$mtime", ageMs = 0)
      val bare = mkDir(parent, "graft-test-fam", ageMs = 2 * HourMs)      // implicit v0
      val v0 = mkDir(parent, "graft-test-fam-v0", ageMs = 2 * HourMs)
      val v9 = mkDir(parent, "graft-test-fam-v9", ageMs = 2 * HourMs)     // newer binary's data
      val unrelated = mkDir(parent, "graft-other-fam-v0", ageMs = 2 * HourMs)
      assert(fam.setLastModified(System.currentTimeMillis() - 2 * HourMs))
      ArtifactStore.reapStale(fam.getPath, key, mtime)
      assert(!bare.exists(), "pre-versioning family dir is strictly older; reap")
      assert(!v0.exists(), "v0 < current version; reap")
      assert(v9.exists(), "a NEWER version sibling is a newer binary's live data; never reap")
      assert(unrelated.exists(), "a different family is out of scope")
      assert(fam.exists(), "the current famDir itself is never reaped, even aged")
    } finally graft.sources.LocalArtifacts.deleteRecursively(parent)
  }

  test("version siblings inside the age guard survive even when older") {
    val (parent, fam) = sandbox()
    try {
      val v0 = mkDir(parent, "graft-test-fam-v0", ageMs = 0)
      ArtifactStore.reapStale(fam.getPath, key, mtime)
      assert(v0.exists(), "an old-version dir inside the guard may still be read by an old binary")
    } finally graft.sources.LocalArtifacts.deleteRecursively(parent)
  }
}
