package graft

import graft.sources.LocalArtifacts
import org.apache.spark.sql.DataFrame

/** The one lifecycle for every artifact graft persists under the system
  * temp dir (stand-in for the warehouse path a cluster deployment would
  * use): the vector-index tiers (Ivf, Pq, Sq, Bq, IvfPq, IvfPqRes and the
  * semantic-dedup quantizer), the mined dedup tables (bands, pairs,
  * clusters) and the vectors.npy export. The reference writes each
  * artifact once (artifacts.py) and keeps the loaded index resident for
  * the process (loaders.py); this object is that contract, once:
  *
  *  - stamp: [[stamp]], the newest source-file mtime — it changes
  *    whenever the source table is rewritten;
  *  - name: `${java.io.tmpdir}/graft-<family>-<Version>/<corpusKey>[-<params>]-m<stamp>`.
  *    The family carries what the artifact is, [[Version]] its on-disk
  *    format, the params how it was built, the stamp which generation of
  *    the source it derives from — so no parameter, format or source
  *    change can ever load another entry's bytes;
  *  - publish: a builder writes into `<entry>.tmp-<pid>-<tid>` and renames
  *    once. A concurrent builder can't interleave half-written parts; the
  *    rename loser deletes its copy and re-checks the winner's completion
  *    markers, and a lost rename with no complete entry present (a stale
  *    partial dir, permissions) throws, naming the path;
  *  - open: every memo miss touches its entry (the reaper's age is then
  *    the last open, across processes) and reaps dead siblings,
  *    age-guarded ([[reapStale]]);
  *  - memo: one (stamp, value) per (family, corpusKey, params) for the
  *    process ([[Memo]]). A hit is driver work only — it starts no Spark
  *    job; a new stamp replaces the entry, never accumulates beside it.
  *
  * Two preconditions hold for every caller and are not re-checked:
  *  - one SparkSession per process: a memoized value may hold DataFrames
  *    of the session that loaded it;
  *  - a corpus key names one source table: callers pass the full table of
  *    an sf dir with that dir as the key, so key + stamp name the content.
  *    The stamp must be positive (a file-backed source); a source with no
  *    files has no generation to name and is refused.
  */
object ArtifactStore {

  /** On-disk format generation of every entry. Bump it when a family's
    * write layout or build semantics change: older generations are then
    * unaddressable and reaped once aged. */
  val Version = "v1"

  /** Newest source-file mtime of `source` (0 for a non-file source): no
    * Spark job — the file list is the planned scan's. */
  def stamp(source: DataFrame): Long =
    source.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f).getPath).lastModified()).foldLeft(0L)(math.max)

  /** Mtime-guarded in-process memo: one (mtime, value) entry per key. A
    * changed mtime REPLACES the entry, an unchanged one serves it. The
    * compute runs inside ConcurrentHashMap.compute's per-bin lock, so
    * concurrent same-key callers build once. Also the staleness guard for
    * the caches keyed by a source table's directory (row counts, bucketed
    * catalog tables, pinned serving tiers). */
  final class Memo[V] {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, V)]()

    def apply(key: String, mtime: Long)(compute: => V): V =
      cache.compute(key, (_, cur) =>
        if (cur != null && cur._1 == mtime) cur else (mtime, compute))._2
  }

  /** One artifact family: its directory, its completion markers (paths
    * relative to an entry that exist only once the write finished) and
    * its memo. The family supplies only its own `write(path)` and
    * `load(path)`. */
  final class Family[V](name: String, markers: String*) {
    require(markers.nonEmpty, s"graft-$name: a family needs a completion marker")
    private val memo = new Memo[V]

    def dir: String = s"${sys.props("java.io.tmpdir")}/graft-$name-$Version"

    /** The entry for `source` under `corpusKey` + `params`: served from
      * the memo, else loaded from disk, else built, published and loaded. */
    def apply(source: DataFrame, corpusKey: String, params: String = "")(
        write: String => Unit)(load: String => V): V = {
      val st = stamp(source)
      require(st > 0L,
        s"graft-$name: the source of '$corpusKey' has no input files to stamp")
      // no leading '_' (an absolute path's '/'): Spark warns on every read
      // of a path whose name marks it hidden
      val key = corpusKey.replaceAll("[^A-Za-z0-9.]", "_").stripPrefix("_")
      val prefix = if (params.isEmpty) key else s"$key-$params"
      memo(prefix, st) {
        reapStale(dir, key, st)
        val path = s"$dir/$prefix-m$st"
        publish(path)(write)
        new java.io.File(path).setLastModified(System.currentTimeMillis())
        load(path)
      }
    }

    /** Write `path` once: no-op when a complete entry is there. */
    def publish(path: String)(write: String => Unit): Unit = {
      def complete = markers.forall(m => new java.io.File(s"$path/$m").exists())
      if (!complete) {
        val tmp = new java.io.File(
          s"$path.tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}")
        tmp.mkdirs()
        write(tmp.getPath)
        if (!tmp.renameTo(new java.io.File(path))) {
          LocalArtifacts.deleteRecursively(tmp)
          if (!complete)
            throw new IllegalStateException(
              s"graft-$name publish failed: rename to $path lost without a complete " +
                "entry present (stale/partial directory? permissions?) — remove the " +
                "target path and rebuild")
        }
      }
    }
  }

  /** Reap dead entries of `famDir`, AGE-GUARDED: a dir is deleted only
    * once it has sat untouched for an hour, because a lazy reader opened
    * before the source regenerated may still be scanning it (every open
    * touches its entry, so the guard keys on the last open; deleting
    * under a live read fails that query with FileNotFound, the accepted
    * residual for handles held > 1 h). Three dead classes:
    *  - superseded generations of this corpus key (any params, older
    *    stamp): no new reader can want them;
    *  - crashed builders' `.tmp-*` dirs: their rename never happened, and
    *    any live builder finishes far inside the guard;
    *  - STRICTLY OLDER format generations of the whole family (a bare
    *    `graft-<family>` dir counts as v0). A NEWER sibling — an upgraded
    *    binary sharing the temp dir — is someone else's live data and is
    *    never touched. */
  private[graft] def reapStale(famDir: String, key: String, stamp: Long): Unit = {
    val ageMs = 60L * 60 * 1000
    val now = System.currentTimeMillis()
    def old(f: java.io.File) = now - f.lastModified() > ageMs
    Option(new java.io.File(famDir).listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        val ours = n.startsWith(s"$key-")
        val crashedTmp = n.contains(".tmp-")
        val superseded = !crashedTmp &&
          n.substring(n.lastIndexOf("-m") + 2).toLongOption.exists(_ < stamp)
        ours && (superseded || crashedTmp) && old(f)
      }
      .foreach(LocalArtifacts.deleteRecursively)
    val fam = new java.io.File(famDir)
    val seg = fam.getName.stripSuffix(s"-$Version")
    val curVer = Version.stripPrefix("v").toInt
    val verRe = (java.util.regex.Pattern.quote(seg) + "-v(\\d+)").r
    Option(fam.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        f.getName match {
          case n if n == fam.getName || !old(f) => false
          case `seg`                            => true // pre-versioning dir: implicit v0
          case verRe(nStr) => nStr.toIntOption.exists(_ < curVer)
          case _           => false
        }
      }
      .foreach(LocalArtifacts.deleteRecursively)
  }
}
