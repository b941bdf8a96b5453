package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Zero-copy READ-ONLY clones: a stable table NAME for one committed
  * version of another world, without copying a byte of data.
  *
  * `option("graft.snapshot", n)` already pins a single read, but a team
  * workflow wants a PATH — "point staging at last night's state" — that
  * every reader resolves identically with no option-passing, and that keeps
  * meaning the same bytes while the source advances. A clone directory
  * holds exactly three small files:
  *
  *   - `_graft_clone` — `<source path>\n<version>`: the pointer the
  *     connector resolves reads through (a [[GraftClonePin]] planning from
  *     the SOURCE's version manifests — live files or their history
  *     locations, the same resolution a snapshot read uses);
  *   - `_graft_schema.json` (+ `_graft_bloom` when present) — copied from
  *     the source so schema inference and point-lookup file skipping work
  *     without touching it.
  *
  * Clone semantics follow from the pin: every mutation (INSERT, DELETE,
  * row-level ops, streaming writes) is refused by the existing pinned-table
  * guards, and streaming reads are refused like any pinned read. A clone of
  * a clone dereferences to the ORIGINAL source at the same version (a clone
  * is immutable, so transitive identity is exact).
  *
  * Retention safety: `create` sets a `clone-*` TAG on the source at the
  * cloned version — tags hold a version's manifest and history past
  * `expire_versions`, so a retention sweep on the source cannot silently
  * break the clone. Deleting the clone directory releases nothing until the
  * tag is dropped (documented trade: clones are cheap, their garbage
  * collection is the source's tag hygiene).
  *
  * The reference anchor is the same as the version log's: whole-chunk
  * replace (/root/reference/tokio-fs/src/lib.rs:84-107) makes a committed
  * version a closed set of immutable files — which is exactly what makes a
  * by-reference clone sound.
  */
object GraftClone {

  val PointerName = "_graft_clone"

  private def fsOf(p: Path): FileSystem =
    GraftHadoop.fs(p)

  /** The clone pointer of `root`, if `root` is a clone. */
  def pointer(fs: FileSystem, root: Path): Option[(String, Long)] = {
    val p = new Path(root, PointerName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      txt.split("\n").map(_.trim).filter(_.nonEmpty) match {
        case Array(src, v) => Some((src, v.toLong))
        case other => throw new IllegalStateException(
          s"graft clone: malformed pointer at $p: '${txt.take(120)}'")
      }
    }
  }

  /** Create a clone of `src` at `version` (default: its latest commit) at
    * the empty/absent directory `target`. Returns the pinned version. */
  def create(src: String, target: String,
      version: Option[Long] = None): Long = {
    val sroot0 = new Path(src)
    val sfs0 = fsOf(sroot0)
    // clone-of-clone: dereference to the original source — the clone is
    // immutable at v, so transitive identity is exact (and avoids chasing
    // pointer chains at read time)
    val (srcPath, sroot, sfs, v) = pointer(sfs0, sroot0) match {
      case Some((orig, ov)) =>
        require(version.forall(_ == ov),
          s"graft clone: $src is a clone pinned at v$ov; cannot clone it at " +
            s"version ${version.get}")
        val r = new Path(orig); (orig, r, fsOf(r), ov)
      case None =>
        val v = version.getOrElse(
          GraftVersions.latestVersion(sfs0, sroot0).getOrElse(
            throw new IllegalArgumentException(
              s"graft clone: $src has no versioned commits to clone")))
        (src, sroot0, sfs0, v)
    }
    GraftVersions.readManifest(sfs, sroot, v) // validate: committed + retained

    val troot = new Path(target)
    val tfs = fsOf(troot)
    require(!tfs.exists(troot) || tfs.listStatus(troot).isEmpty,
      s"graft clone: target $target must be empty")
    tfs.mkdirs(troot)

    // retention guard FIRST: once the tag exists, an expire on the source
    // cannot take v's files out from under the clone
    GraftVersions.setTag(sfs, sroot, tagNameFor(target, v), v)

    // schema (+ bloom) sidecars: schema inference and bloom file-skipping
    // must not touch the source
    copySidecar(sfs, sroot, tfs, troot, "_graft_schema.json", required = true)
    copySidecar(sfs, sroot, tfs, troot, GraftBloom.SidecarName, required = false)

    val out = GraftHadoop.create(tfs, new Path(troot, PointerName), overwrite = true)
    try out.write(s"$srcPath\n$v\n".getBytes("UTF-8")) finally out.close()
    v
  }

  /** Deterministic, name-rule-safe tag for a clone target: readable prefix
    * of the sanitized target plus a hash of the full path (two clones of
    * different targets never collide; re-cloning the same target at the
    * same version is idempotent). */
  private[sources] def tagNameFor(target: String, v: Long): String = {
    val sanitized = target.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40)
    val h = Integer.toHexString(target.hashCode)
    s"clone-v$v-$h-$sanitized".take(80) match {
      case t if t.matches("[A-Za-z][A-Za-z0-9._-]*") => t
      case t => "clone-" + t.dropWhile(!_.isLetter) // defensive; prefix is a letter
    }
  }

  private def copySidecar(sfs: FileSystem, sroot: Path, tfs: FileSystem,
      troot: Path, name: String, required: Boolean): Unit = {
    val from = new Path(sroot, name)
    if (!sfs.exists(from)) {
      require(!required, s"graft clone: source $sroot lacks required $name")
      return
    }
    val in = sfs.open(from)
    val bytes = try in.readAllBytes() finally in.close()
    val out = GraftHadoop.create(tfs, new Path(troot, name), overwrite = true)
    try out.write(bytes) finally out.close()
  }
}
