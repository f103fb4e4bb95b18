package graft.ext

import java.io.{FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Driver-side persistence for trained index MODELS (PQ/OPQ codebooks, IVF
  * centroids, rotations): the small artifacts of an ANN build job. The bulky
  * artifacts (encoded codes, inverted lists) are snapshot TABLES
  * ([[graft.sinks.Snapshots]]); models are kilobytes — one atomic file each
  * (write-temp + rename, same publish discipline as a manifest). On a real
  * deployment this is one object-store PUT next to the table.
  *
  * A model file is written only AFTER its code table commits, so its
  * presence marks a complete index: load-or-build bootstraps race-free.
  */
object IndexStore {

  def save[T <: java.io.Serializable](path: String, value: T): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    val out = new ObjectOutputStream(new FileOutputStream(tmp.toFile))
    try out.writeObject(value) finally out.close()
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def load[T](path: String): Option[T] = {
    if (!Files.exists(Paths.get(path))) None
    else {
      val in = new ObjectInputStream(new FileInputStream(path))
      try Some(in.readObject().asInstanceOf[T]) finally in.close()
    }
  }

  /** Load-or-build of an index dir's `model.bin`: an existing model is
    * returned as is; otherwise `train` runs, `commitCodes` writes the code
    * table, and only then is the model saved — so its presence marks a
    * complete index. */
  private[ext] def loadOrBuild[T <: java.io.Serializable](dir: String)(train: => T)(
      commitCodes: T => Unit): T =
    load[T](s"$dir/model.bin").getOrElse {
      val model = train
      commitCodes(model)
      save(s"$dir/model.bin", model)
      model
    }

  /** The `model.bin` of a built index; fails loudly when there is none. */
  private[ext] def loadBuilt[T](dir: String, kind: String): T =
    load[T](s"$dir/model.bin").getOrElse(
      throw new IllegalStateException(s"no $kind index at $dir — run buildIndex"))

  /** 12-hex-char stable key for a source-dir string — the shared artifact-
    * naming primitive (index dirs, bucketed table names). One definition so
    * key width/hash can never silently diverge between artifact kinds. */
  def dirKey(sfDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** Stable artifact location for (index kind, source dir, geometry) — a
    * geometry change is a different index, never an in-place retrain. */
  def indexDir(kind: String, sfDir: String, geometry: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-index/$kind-${dirKey(sfDir)}-$geometry"

  /** Null-safe recursive delete (listFiles() is null on I/O errors). */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
    f.delete(); ()
  }

  private val claimLock = new Object

  /** Vacuum discipline for fingerprint-keyed artifacts. Every persisted
    * index/codebook dir embeds its source-data fingerprint in the path
    * (staleness protection: a regenerated source MISSES the old artifact
    * and rebuilds) — but that same keying ORPHANS the old vintage's dir on
    * every regeneration, so disk grows monotonically. `claim` closes the
    * loop: a build/serve path declares "logical artifact L now lives at
    * dir D"; if a registry (one properties file under graft-index/) says L
    * previously lived at D' ≠ D, D' is deleted before L→D is recorded.
    *
    * The logical id is the artifact identity MINUS the volatile token
    * (fingerprint, hashed cache key): e.g. `ivf-indexed|<sfDir>|k16`. Name
    * conventions differ per artifact kind (suffix fingerprints, hashed
    * cacheKeys), so the caller states the identity explicitly instead of
    * the registry guessing from dir names.
    *
    * Driver-side, doubly locked: claims within one JVM serialize on
    * [[claimLock]], and the whole read-modify-write holds an OS file lock
    * so concurrent claims from DIFFERENT processes cannot last-writer-win
    * each other's entries; the publish itself stays atomic (temp+rename).
    * A claim of the CURRENT dir is a cheap no-op, so build paths call it
    * unconditionally — AFTER the build commits, so a failed build leaves
    * the previous vintage and its registry entry untouched (the registry
    * never points at a dir that was never built).
    *
    * Deletes are CONTAINED to the canonical graft-index root (trailing-
    * separator prefix, the Bucketed.rmContained bar): a poisoned registry
    * value outside it — Spark scratch, Derby locks, a `graft-index-evil`
    * sibling — is refused, never deleted. Residual risk, accepted: the
    * stale delete is immediate, so a concurrent process still SERVING the
    * old vintage can lose files mid-read; exposure is one failed query on
    * a fingerprint-keyed path that only changes when the source data is
    * regenerated under a live reader. */
  def claim(logicalId: String, dir: String): Unit = claimLock.synchronized {
    val reg = Paths.get(s"${sys.props("java.io.tmpdir")}/graft-index/REGISTRY")
    Files.createDirectories(reg.getParent)
    // cross-process exclusion: two processes interleaving the read-modify-
    // write would last-writer-win and silently drop the other's entry,
    // stranding its predecessor dir until the next claim. An OS file lock
    // serializes them; the JVM-level claimLock above prevents the
    // OverlappingFileLockException a same-process second lock would throw.
    val lockCh = java.nio.channels.FileChannel.open(
      Paths.get(reg.toString + ".lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val osLock = lockCh.lock()
    try {
      val props = new java.util.Properties()
      if (Files.exists(reg)) {
        val in = new FileInputStream(reg.toFile)
        try props.load(in) finally in.close()
      }
      val key = dirKey(logicalId)
      val prev = Option(props.getProperty(key))
      if (!prev.contains(dir)) {
        prev.foreach { stale =>
          // containment, the Bucketed.rmContained bar: only dirs STRICTLY
          // under the canonical graft-index root are deletable — that is
          // the only place this engine writes registry-tracked artifacts.
          // The trailing File.separator matters: a bare startsWith would
          // let a poisoned value like <root>-evil pass. Anything else in a
          // poisoned registry (Spark scratch, Derby locks, foreign tmpdir
          // files) is refused outright, never deleted.
          val staleFile = new java.io.File(stale)
          val rootCanon = new java.io.File(
            s"${sys.props("java.io.tmpdir")}/graft-index").getCanonicalPath
          if (staleFile.getCanonicalPath.startsWith(
              rootCanon + java.io.File.separator))
            deleteRecursively(staleFile)
        }
        props.setProperty(key, dir)
        val tmp = Paths.get(reg.toString + s".tmp-${ProcessHandle.current().pid()}")
        val out = new FileOutputStream(tmp.toFile)
        try props.store(out, "graft artifact registry: dirKey(logicalId) -> current dir")
        finally out.close()
        Files.move(tmp, reg, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
    } finally {
      osLock.release()
      lockCh.close()
    }
  }

  /** Driver-side fingerprint of a source data file/dir: (name, size, mtime)
    * of every regular file, folded to a hex token. Fold it into an index
    * key when index STALENESS must be loud — an index whose query is
    * hash-oracled would silently serve wrong results if the source table
    * were ever regenerated in place; with the fingerprint in the key a
    * content change simply misses the old index and rebuilds. Pure local
    * file metadata: no Spark job, no file reads. */
  def dataFingerprint(path: String): String = {
    val root = new java.io.File(path)
    // a missing source must fail LOUDLY: silently fingerprinting a
    // nonexistent path would freeze the key forever — the exact silent-
    // staleness failure this method exists to prevent
    require(root.exists(), s"dataFingerprint: no such path $path")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        val children = f.listFiles() // null on I/O or permission error
        require(children != null, s"dataFingerprint: cannot list $f")
        children.toSeq.sortBy(_.getName).flatMap(walk)
      } else Seq(f)
    val h = walk(root).foldLeft(1125899906842597L) { (acc, f) =>
      var x = acc
      for (c <- s"${f.getName}:${f.length}:${f.lastModified}") x = x * 31 + c
      x
    }
    java.lang.Long.toHexString(h)
  }
}
