package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.{KeyProbe, ManifestScan, SpjBridge}
import org.apache.spark.sql.types.StructType

/** Minimal manifest-committed table — the transactional-MERGE seam the CDC
  * sinks need without a lakehouse dependency (SURVEY.md §7.4.2 calls a
  * transactional format's MERGE "the production endgame"; this is its
  * smallest honest core, the same commit protocol Iceberg/Delta build on:
  * immutable data versions + an atomically-published pointer).
  *
  * Layout under `root/`:
  * {{{
  *   v00000001/ v00000002/ ...   immutable data version dirs (never mutated
  *                               after their manifest is published)
  *   _manifest.00000002          the COMMIT: one small text file per version,
  *                               lines of "partitionDir<TAB>dataVersion"
  *                               ("" for a non-partitioned snapshot)
  * }}}
  * Readers resolve the HIGHEST-numbered manifest and assemble the table
  * from the partition→version entries; a partition untouched since v1 still
  * points at v1's files, so a partition-pruned merge commit costs O(touched
  * partitions) I/O — the [[graft.cdc.Dispatch.runPartitioned]] scale shape —
  * while the whole table flips versions atomically.
  *
  * Crash consistency (the property the old `.pbak` per-partition swap only
  * approximated): a manifest file APPEARS atomically — it is staged to a
  * dot-temp name and `rename`d into place, and rename within a directory is
  * atomic on every local FS and HDFS — and data versions are only ever
  * written under a version number no manifest references yet. So a crash at
  * ANY instant leaves either the old manifest (orphan data dir, reclaimed
  * by the next commit/vacuum) or the new one (commit complete); no reader
  * ever observes a partial swap, and no recovery pass is needed at startup.
  * Single-writer per table, like every manifest-pointer design without a
  * lock service; object stores without atomic rename would need a
  * conditional-put pointer instead (documented tradeoff).
  */
object ManifestTable {

  private val ManifestPrefix = "_manifest."
  private val StatsPrefix = "_stats."
  private val NdvPrefix = "_ndv."
  private def fmt(v: Long) = f"$v%08d"
  /** `n`'s version number after `pfx` (`v00000003`, `_manifest.00000003`). */
  private def numberAfter(n: String, pfx: String): Option[Long] = {
    val rest = n.stripPrefix(pfx)
    if (rest.length == n.length || rest.isEmpty || !rest.forall(_.isDigit)) None
    else rest.toLongOption
  }

  /** Inclusive column-range predicate for [[readPruned]]: rows with
    * `lo <= col <= hi`. Numeric bounds (and timestamps, as µs) compare in
    * double space — exact for magnitudes below 2^53, the zone-map norm;
    * string bounds compare lexically. A `null` bound is unbounded on that
    * side (one-sided ranges, e.g. `col > x` pushdowns).
    */
  final case class ColRange(col: String, lo: Any, hi: Any)

  /** Per-file zone map for one column: [min, max] over every row group, or
    * allNull when no row group holds a non-null value (such a file can be
    * pruned by ANY range — NULL never satisfies a range predicate).
    */
  private final case class ColZone(tag: Char, minS: String, maxS: String,
                                   allNull: Boolean)

  /** Pseudo-column key of the per-file row-count entry in the `_stats`
    * sidecar (tag 'N', count in `minS`). NUL-prefixed so no real column —
    * however quoted — can collide; filtered out of every zone-map surface.
    */
  private val RowsCol = "\u0000rows"
  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** `_sink.batch.<id>`: a [[org.apache.spark.sql.graft.GraftStreamSink]]
    * progress marker (the batch id rides the file name).
    */
  val SinkMarkerPrefix = "_sink.batch."

  /** One listing of a table root, every name in it classified once: the
    * ONE reader of the root directory. Manifest versions, branch ref
    * markers and heads, the `_ddl.json` sidecar's status, the staged
    * `.ddl-*.json` names and the sink's progress markers are all answers
    * of this one listing; [[vacuum]] sweeps its raw `entries`. A caller
    * that asks several questions about one moment, with no write of its
    * own in between, lists once and asks them all here; the commit
    * protocol's decisions (claim number, lineage head, rebase) always read
    * a fresh listing taken after staging.
    */
  final class RootListing private[sources] (val fs: FileSystem, val rootP: Path,
                                            val entries: Seq[FileStatus]) {
    private def numbered(pfx: String): Seq[Long] =
      entries.flatMap(st => numberAfter(st.getPath.getName, pfx)).sorted

    /** Committed manifest versions on disk, ascending. */
    val versions: Seq[Long] = numbered(ManifestPrefix)
    /** Max over ALL lineages' manifests (0 when none): the claim floor. */
    def maxVersion: Long = versions.lastOption.getOrElse(0L)

    /** Whether the table is branched: any `_ref.` name at all. */
    val hasRefs: Boolean = entries.exists(_.getPath.getName.startsWith(RefPrefix))
    /** Every `_ref.<name>.<v>` marker: (ref name, version, status). */
    val refMarkers: Seq[(String, Long, FileStatus)] = entries.flatMap { st =>
      val n = st.getPath.getName
      val s = n.stripPrefix(RefPrefix)
      val i = s.lastIndexOf('.')
      if (!n.startsWith(RefPrefix) || i <= 0) None
      else s.substring(i + 1).toLongOption.map(v => (s.substring(0, i), v, st))
    }
    /** Branch → head version (the max marker per name); empty when unbranched. */
    lazy val refHeads: Map[String, Long] =
      refMarkers.groupBy(_._1).map { case (n, ms) => n -> ms.map(_._2).max }

    /** The `_ddl.json` sidecar's status, if present. */
    val ddl: Option[FileStatus] = entries.find(_.getPath.getName == GraftDdl.FileName)
    /** Names of the staged RTAS sidecars (`.ddl-*.json`). */
    val stagedDdl: Set[String] = entries.iterator.map(_.getPath.getName)
      .filter(n => n.startsWith(GraftDdl.StagedPrefix) && n.endsWith(".json")).toSet
    /** Whether `_tags.json` is present. */
    val hasTags: Boolean = entries.exists(_.getPath.getName == TagsFile)
    /** Sink progress markers' batch ids, ascending. */
    val sinkBatches: Seq[Long] = numbered(SinkMarkerPrefix)

    /** Head version of the session's ref, or None for a table that has
      * never committed (orphan data dirs from a crashed first commit don't
      * count — only a manifest makes a version real).
      *
      * UNBRANCHED tables (no `_ref.*` markers — every table until
      * [[createBranch]]): the highest manifest number, as ever. BRANCHED
      * tables share one manifest log across lineages (the Iceberg
      * snapshots+refs model), so "current" is the head MARKER of the
      * session's ref — `main` outside [[onBranch]] — not the numeric max.
      */
    def head: Option[Long] =
      if (versions.isEmpty) None
      else if (!hasRefs) {
        if (commitRefTL.get().isDefined) throw new IllegalStateException(
          s"no such branch '${currentRef}' on $rootP — the table has no branches " +
            "(CALL system.create_branch first)")
        Some(maxVersion)
      } else Some(refHeads.getOrElse(currentRef, throw new IllegalStateException(
        s"no such branch '${currentRef}' on $rootP — known: " +
          refHeads.keys.toSeq.sorted.mkString(", "))))

    /** A declared (`_ddl.json`) or committed table lives here. */
    def isTable: Boolean = ddl.isDefined || head.isDefined
  }

  /** List the table root once (no `exists` probe: a missing root lists
    * as empty, the FileSystem contract's `FileNotFoundException`).
    */
  private[graft] def listRoot(fs: FileSystem, rootP: Path): RootListing =
    new RootListing(fs, rootP,
      try fs.listStatus(rootP).toSeq
      catch { case _: java.io.FileNotFoundException => Nil })

  def listRoot(spark: SparkSession, root: String): RootListing = {
    val (fs, p) = fsOf(spark, root)
    listRoot(fs, p)
  }

  /** Head version of the session's ref ([[RootListing.head]]). */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    listRoot(spark, root).head

  def exists(spark: SparkSession, root: String): Boolean =
    currentVersion(spark, root).isDefined

  /** One parsed manifest body: its `(partitionDirName, data version)`
    * entries and its directive payloads by key. A partition may appear
    * under SEVERAL data versions — a [[mergeDv]] append adds a new version
    * alongside the partition's existing files, so the partition's content
    * is the union of its entries (minus the deletion vector). Lines
    * starting with `#` are directives (`#dv`, `#ts`, `#batch`, `#ddl`,
    * `#basedOn`, `#ref`, `#parent`), not entries; the first line of a key
    * is its payload.
    */
  final case class Manifest(entries: Seq[(String, Long)], directives: Map[String, String]) {
    def directive(key: String): Option[String] = directives.get(key)
    /** The deletion-vector version (`d<v>`) the manifest points at. */
    def dv: Option[Long] = directive("dv").map(_.toLong)
    /** The commit wall-clock, epoch µs. */
    def ts: Option[Long] = directive("ts").map(_.toLong)
    /** The stream-sink batch id the commit recorded. */
    def batch: Option[Long] = directive(BatchKey).map(_.toLong)
  }

  /** THE parser of the manifest body format ([[publishManifest]] is its
    * one writer).
    */
  private def parseManifest(body: String): Manifest = {
    val (dirs, entries) = body.linesIterator.filter(_.nonEmpty).toSeq.partition(_.startsWith("#"))
    Manifest(entries.map { line =>
      val Array(name, ver) = line.split("\t", 2)
      name -> ver.toLong
    }, dirs.reverseIterator.flatMap { line =>
      val i = line.indexOf('\t')
      if (i < 0) None else Some(line.substring(1, i) -> line.substring(i + 1))
    }.toMap)
  }

  /** Manifests are IMMUTABLE once published (the create-exclusive arbiter
    * never rewrites a number), so parses memoize per absolute path,
    * validated by (modificationTime, length) — one `getFileStatus` round
    * trip instead of open+read+parse. The stamp guards the
    * delete-and-recreate-same-path case (table drops, test temp reuse): a
    * new incarnation's same-numbered manifest carries a different (mtime,
    * len). Small bounded LRU — only recently-touched tables' newest
    * manifests matter.
    */
  private val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, Long, Manifest)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long, Manifest)]): Boolean = size > 256
    })

  /** Drop every memoized manifest and deletion vector under `rootPrefix` —
    * called by table-dropping paths so a recreate at the same path starts
    * cold.
    */
  private[sources] def invalidateBodyCache(rootPrefix: String): Unit = {
    manifestCache.synchronized(manifestCache.keySet.removeIf(_.startsWith(rootPrefix)))
    dvCache.synchronized(dvCache.keySet.removeIf(_.startsWith(rootPrefix)))
  }

  /** Manifest `v`, parsed: one status call, and a read only on a cache
    * miss. A manifest that is not on disk throws `FileNotFoundException`.
    */
  private def manifestAt(fs: FileSystem, root: Path, v: Long): Manifest = {
    val p = new Path(root, ManifestPrefix + fmt(v))
    val st = fs.getFileStatus(p)
    val key = p.toString
    val cached = manifestCache.get(key)
    if (cached != null && cached._1 == st.getModificationTime && cached._2 == st.getLen)
      cached._3
    else {
      val in = fs.open(p)
      val m =
        try parseManifest(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      manifestCache.put(key, (st.getModificationTime, st.getLen, m))
      m
    }
  }

  /** [[manifestAt]], None when the manifest is not on disk. */
  private def manifestIfAny(fs: FileSystem, root: Path, v: Long): Option[Manifest] =
    try Some(manifestAt(fs, root, v))
    catch { case _: java.io.FileNotFoundException => None }

  /** One table state: the version, its parsed manifest (entries, DV
    * pointer, directives) and the table's DDL view (active spec, spec
    * history, `graft.partSpecFrom`, field ids, checks and the declared
    * `statsCols`/`bloomCols`/`graft.optimizeWrite`). A statement resolves
    * it ONCE ([[snapshot]]) and passes it through its read, its commit
    * and the commit's rebase base; a catalog scan resolves one per scan
    * build. It is never cached on a table object nor reused across a
    * write of the statement's own, and the commit protocol's decisions
    * (claim number, lineage head, rebase) always read a fresh listing.
    * `version = None`: a declared table that never committed.
    */
  final class Snapshot private[sources] (val root: String, val fs: FileSystem, val rootP: Path,
                                         val version: Option[Long], val manifest: Manifest,
                                         private[graft] val ddl: GraftDdl.Sidecar) {
    def v: Long = version.getOrElse(
      throw new IllegalStateException(s"manifest table $root has no committed version"))
    def entries: Seq[(String, Long)] = manifest.entries
    def dv: Option[Long] = manifest.dv
    /** Whether the table declares its DDL in a `_ddl.json` sidecar. */
    def declared: Boolean = ddl.ddl.isDefined
    /** The table's CHECK constraints (`graft.check.*` properties). */
    def checks: Map[String, String] = ddl.checks
    /** The identity spec a path-first table's manifest dir names carry. */
    def dirSpec: Option[PartSpec] = entries.collectFirst {
      case (n, _) if n.contains("=") => PartSpec.Identity(n.substring(0, n.indexOf('=')))
    }
    /** The spec a write lands under: a declared table's active spec (the
      * sidecar is authoritative — no `partCol` means unpartitioned), else
      * `pathFirst`.
      */
    def spec(pathFirst: => Option[PartSpec]): Option[PartSpec] =
      if (declared) ddl.spec else pathFirst
    /** [[spec]], path-first tables keeping the layout of their dir names. */
    def spec: Option[PartSpec] = spec(dirSpec)
  }

  /** The table at `root` as of its session-ref head, or `asOf`. */
  def snapshot(spark: SparkSession, root: String, asOf: Option[Long] = None): Snapshot =
    snapshot(spark, root, listRoot(spark, root), asOf)

  /** [[snapshot]] from a root listing the caller already holds: one status
    * call for the manifest, none for a warm `_ddl.json`. A version no
    * manifest on disk holds fails with an `IllegalStateException`.
    */
  def snapshot(spark: SparkSession, root: String, l: RootListing, asOf: Option[Long]): Snapshot = {
    val v = asOf.orElse(l.head)
    val m = v.fold(Manifest(Nil, Map.empty))(x => manifestIfAny(l.fs, l.rootP, x).getOrElse(
      throw new IllegalStateException(
        s"manifest table $root has no version $x on disk (vacuumed or never committed)")))
    new Snapshot(root, l.fs, l.rootP, v, m, GraftDdl.sidecar(spark, root, l))
  }

  // ------------------- atomic commit-metadata directives -----------------
  //
  // A streaming sink that records its last-committed batch id in a SEPARATE
  // marker file has a crash window (commit lands, marker doesn't → the
  // replayed batch double-appends). Riding the id on a `#batch` directive
  // INSIDE the manifest makes commit + batch-record one atomic rename —
  // the Delta txn-appId/version idempotence pattern. The directive is
  // scoped per-thread because every commit shape funnels through
  // [[publishManifest]] and the sink drives its commits synchronously.

  private val commitDirectives = new scala.util.DynamicVariable[Seq[String]](Nil)

  /** Run `f` with every manifest this thread publishes carrying a
    * `#batch\t<id>` directive — the [[GraftStreamSink]] exactly-once seam.
    */
  def withBatchId[T](id: Long)(f: => T): T = withDirective(s"#$BatchKey\t$id")(f)
  private val BatchKey = "batch"

  /** Run `f` with every manifest this thread publishes carrying an extra
    * directive line (APPENDED to any already in scope) — the general form
    * behind [[withBatchId]] and the RTAS `#ddl` schema flip
    * ([[graft.sources.GraftDdl]]): metadata that must become visible in the
    * SAME atomic rename as the data lands here. The line must be
    * newline-free (`#key\t<single-line payload>`).
    */
  def withDirective[T](line: String)(f: => T): T = {
    require(!line.contains("\n") && line.startsWith("#"),
      s"manifest directive must be one '#key\\t...' line: $line")
    commitDirectives.withValue(commitDirectives.value :+ line)(f)
  }

  /** Directive payload (`#<key>\t<payload>`) of manifest `v`, if present. */
  def directiveOf(spark: SparkSession, root: String, v: Long, key: String): Option[String] = {
    val (fs, rootP) = fsOf(spark, root)
    manifestAt(fs, rootP, v).directive(key)
  }

  /** The field-id map a COMMIT must attach to the data it writes
    * ([[FieldIds.attachDf]] seam): normally the snapshot's, but a commit carrying a `#ddl` directive flips the
    * schema ATOMICALLY with its own manifest rename (the RTAS adopt /
    * torn-flip shape) — the staged sidecar it names becomes authoritative
    * the instant this commit lands, so the data must carry the STAGED
    * map's ids; attaching the dying map would refuse the new columns as
    * schema drift (r18).
    */
  private def fieldIdsForWrite(spark: SparkSession, snap: Snapshot): Map[String, Int] =
    FieldIds.enable(spark, commitDirectives.value
      .find(_.startsWith("#ddl\t")).map(_.stripPrefix("#ddl\t"))
      .flatMap(name => GraftDdl.loadStaged(spark, snap.root, name))
      .map(d => FieldIds.parse(d.props))
      .getOrElse(snap.ddl.fieldIds))

  /** ANN-index lifecycle base pointer (VERDICT r17 #2): an index table
    * records WHICH corpus version it is complete as of via a `#basedOn`
    * directive riding its build/rebuild commit — corpus deletions AFTER
    * that version are the only keys a query-time anti-join must mask, so
    * the mask stays O(deletions since last rebuild) instead of growing
    * forever. A rebuild re-stamps it atomically with the rewritten data.
    */
  def withBasedOn[T](corpusVersion: Long)(f: => T): T =
    withDirective(s"#basedOn\t$corpusVersion")(f)

  /** Newest `#basedOn` payload across retained manifests — newest-first
    * because incremental-ANN APPEND commits between rebuilds don't carry
    * the directive (appended vectors postdate the corpus base by
    * construction; the newest stamping commit stays authoritative).
    */
  def basedOnVersion(spark: SparkSession, root: String): Option[Long] = {
    versions(spark, root).reverseIterator
      .flatMap(v => directiveOf(spark, root, v, "basedOn"))
      .map(_.toLong).nextOption()
  }

  /** The highest `#batch` id recorded in any manifest of the listing —
    * scan newest-first so the common case reads ONE manifest. `None` when
    * no retained manifest carries one (vacuum can trim history past the
    * last sink commit; callers combine with their own marker fast path).
    */
  def lastBatchId(l: RootListing): Option[Long] =
    l.versions.reverseIterator.flatMap(manifestAt(l.fs, l.rootP, _).batch).nextOption()

  /** `TIMESTAMP AS OF` floor-resolution: the highest still-on-disk version
    * whose commit wall-clock is <= `tsMicros` (Delta/Iceberg semantics —
    * "the table as it was at that instant"). Versions carrying no `#ts`
    * directive predate the directive and sort before every stamped one.
    * None when `tsMicros` is earlier than the first retained commit.
    *
    * Skew hardening (ADVICE r15): [[publishManifest]] now monotonizes `#ts`
    * at publish time, but histories written by r15 multi-process writers
    * with skewed wall clocks can carry a LATER version with a SMALLER
    * stamp. Resolution therefore orders by the RUNNING MAX of the stamps
    * (each version's effective time is "no earlier than any predecessor" —
    * Delta's commit-timestamp adjustment applied at read time), so a
    * skewed stamp can never hide the versions after it.
    */
  def versionAtTimestamp(spark: SparkSession, root: String, tsMicros: Long): Option[Long] =
    versionAtTimestamp(listRoot(spark, root), tsMicros)

  private[graft] def versionAtTimestamp(l: RootListing, tsMicros: Long): Option[Long] = {
    var runMax = Long.MinValue
    l.versions.takeWhile { v =>
      manifestAt(l.fs, l.rootP, v).ts.foreach(ts => runMax = math.max(runMax, ts))
      runMax == Long.MinValue || runMax <= tsMicros
    }.lastOption
  }

  /** Stage `body` to a dot-temp name and atomically rename it into place as
    * manifest `v` — the one commit point every mutation shares.
    */
  private[graft] def publishManifest(fs: FileSystem, rootP: Path, v: Long,
                                     entries: Seq[(String, Long)], dv: Option[Long],
                                     prior: Option[Manifest] = None): Unit = {
    // every manifest records its commit wall-clock (µs) as a `#ts`
    // directive — the TIMESTAMP AS OF resolution point. Clock values are
    // deliberately kept OFF oracled query paths (wall time isn't
    // replayable); they feed loadTable(ident, timestamp) and `t.history`.
    // MONOTONIZED at publish (ADVICE r15, Delta's in-commit-timestamp
    // adjustment): multi-process writers' wall clocks skew, so the stamp is
    // max(newest prior stamp + 1, now) — `t.history` stays monotone and
    // floor-resolution can't skip a version. The +1 also disambiguates two
    // commits inside one clock millisecond (the µs stamp has ms
    // granularity: currentTimeMillis * 1000 — without it they'd tie and
    // floor-resolution would defensibly-but-surprisingly pick the later).
    // `prior`: the newest earlier manifest the caller already holds (its
    // base snapshot's, or the winner's it rebased on), so the common case
    // reads no manifest and lists nothing — at object-store latencies the
    // listing is the single most expensive metadata op on this path.
    // Falls back to the full scan when it is absent or stampless (pre-r15
    // history).
    val prevTs = prior.flatMap(_.ts).orElse {
      listRoot(fs, rootP).versions.filter(_ < v)
        .reverseIterator.flatMap(manifestIfAny(fs, rootP, _).flatMap(_.ts)).nextOption()
    }
    val ts = math.max(prevTs.map(_ + 1L).getOrElse(Long.MinValue),
      System.currentTimeMillis() * 1000L)
    val body = (entries.distinct.sorted.map { case (n, d) => s"$n\t$d" }
      ++ dv.map(d => s"#dv\t$d").toSeq
      ++ Seq(s"#ts\t$ts")
      ++ commitDirectives.value).mkString("", "\n", "\n")
    // the tmp name must be UNIQUE PER WRITER: two same-base writers race
    // the same manifest number, and a shared tmp name lets the loser's
    // body overwrite the winner's between its write and its link (the
    // winner would then publish the loser's entries under its own claim —
    // a silent lost update), or vanish under the winner's createLink
    val tmp = new Path(rootP,
      s".manifest-$v-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dst = new Path(rootP, ManifestPrefix + fmt(v))
    // lost-update detection: a second writer that resolved the same base
    // version targets the SAME manifest number — POSIX rename would clobber
    // the winner SILENTLY (File.renameTo replaces dst), so the publish must
    // be create-EXCLUSIVE. On a local FS that is a hard-link creation
    // (link(2) fails atomically with EEXIST — a true mutex, no
    // check-then-rename window); elsewhere we fall back to exists+rename,
    // which HDFS makes safe (its rename refuses an existing dst) and object
    // stores would replace with a conditional put (documented tradeoff).
    def collision() = new IllegalStateException(
      s"commit collision: $dst already exists — another writer committed version $v " +
        "from the same base; this commit attempt is abandoned (its data version dir is " +
        "orphaned and reclaimed by the next vacuum) unless the caller retries optimistically")
    if (!commitArbiter.publishExclusive(fs, tmp, dst)) {
      fs.delete(tmp, false) // the loser's staged body is debris
      throw collision()
    }
    // a successful claim of version 1 proves this is a FRESH incarnation of
    // the root (every incarnation's history starts at 1) — any memoized
    // bodies under it belong to a dead delete-and-recreated table, which the
    // (mtime,len) stamp alone can miss when the new same-numbered manifest
    // lands with identical length inside the same ms tick (ADVICE r17).
    // Cross-process recreates stay covered by the stamp's mtime in all but
    // that same-tick-same-length sliver; this closes the in-process paths
    // (direct ManifestTable users, test temp-dir reuse) that bypass
    // GraftCatalog.dropTable's explicit invalidation.
    if (v == 1L) invalidateBodyCache(rootP.toString)
  }

  /** The cross-writer MUTUAL-EXCLUSION primitive the whole commit protocol
    * rests on: atomically install `tmp` as manifest `dst` IFF `dst` does
    * not already exist — "false" (lost) must be the outcome for all but
    * exactly one writer racing the same destination, with no window in
    * which a reader can observe a partial `dst`.
    *
    * [[FsCommitArbiter]] is the default (create-exclusive hard link on a
    * local FS, exists+rename where rename refuses an existing destination —
    * HDFS). An OBJECT-STORE deployment plugs its conditional-put here and
    * everything above this seam (claim protocol, rebase rules, DV
    * conflicts) carries over unchanged: S3 `PutObject` with
    * `If-None-Match: *` (returns 412 = lost), GCS `ifGenerationMatch=0`,
    * ADLS `If-None-Match: *` — upload the body directly instead of
    * renaming `tmp`. A DynamoDB/lock-service arbiter (the pre-conditional-
    * put S3A commit pattern) also fits: acquire `dst`'s name, re-check
    * non-existence, rename, release.
    */
  trait CommitArbiter {
    /** true = this writer owns `dst` (its body is `tmp`'s, fully visible);
      * false = `dst` already existed (the collision outcome). Any other
      * failure should throw.
      */
    def publishExclusive(fs: FileSystem, tmp: Path, dst: Path): Boolean
  }

  /** Filesystem arbiter: on `file:` a hard-link creation (link(2) fails
    * atomically with EEXIST — a true mutex, no check-then-rename window);
    * elsewhere exists+rename, which HDFS makes safe (its rename refuses an
    * existing destination) — object stores must NOT rely on this fallback
    * (their rename is copy+delete with last-writer-wins): plug a
    * conditional-put [[CommitArbiter]] instead.
    */
  object FsCommitArbiter extends CommitArbiter {
    override def publishExclusive(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
      if (fs.getScheme == "file") {
        val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
        val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
        try {
          java.nio.file.Files.createLink(d, t)
          java.nio.file.Files.delete(t)
          // fs.create wrote the tmp through ChecksumFileSystem, leaving a
          // hidden `..manifest-N.tmp.crc` sidecar the nio delete above does
          // not touch (and listStatus never surfaces) — drop it here or one
          // orphan accumulates per commit forever
          java.nio.file.Files.deleteIfExists(
            t.resolveSibling("." + t.getFileName.toString + ".crc"))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        if (fs.exists(dst)) false
        else if (fs.rename(tmp, dst)) true
        // HDFS rename returns false when dst appeared between the exists
        // check and the rename — that is the LOST-RACE outcome the trait
        // contract promises as `false` (so publishStaged's carry-forward
        // retry rebases), not a rename failure (ADVICE r15). Only a false
        // return with dst still absent is a genuine FS failure worth a
        // loud abort.
        else if (fs.exists(dst)) false
        else throw new java.io.IOException(
          s"manifest commit rename $tmp -> $dst failed with no competing commit " +
            "present — table stays at the previous version")
      }
    }
  }

  /** Pluggable arbiter (process-wide): swap in an object-store
    * conditional-put implementation before the first commit. The default
    * covers local FS and HDFS.
    */
  @volatile var commitArbiter: CommitArbiter = FsCommitArbiter

  /** Max optimistic-retry attempts for a colliding carry-forward merge
    * commit before giving up.
    */
  private val CommitRetries = 3

  private def entrySetsOf(entries: Seq[(String, Long)]): Map[String, Set[Long]] =
    entries.groupBy(_._1).map { case (p, es) => p -> es.map(_._2).toSet }

  /** What a commit does to the manifest entries, and which concurrent
    * winners it may rebase past ([[publishStaged]]): Iceberg's snapshot
    * `operation`, one per commit shape.
    */
  private[graft] sealed trait CommitShape
  private[graft] object CommitShape {
    /** [[commit]] with no spec or no carry-forward, and [[adoptSnapshot]]:
      * replaces the entries; fails on any collision (a whole-table
      * replace never commutes).
      */
    case object Snapshot extends CommitShape
    /** [[commit]] with a spec and carry-forward: supersedes its touched
      * partitions' entries; rebases unless the winner touched one of them
      * or moved the DV inside them.
      */
    case object Rewrite extends CommitShape
    /** [[append]]: adds entries; references no base state, so it rebases
      * past ANY winner (Delta's blind-append rule).
      */
    case object Append extends CommitShape
    /** [[mergeDv]] and [[commitDelta]], with or without a DV stage: adds
      * entries; rebases only past winners that changed no existing file
      * and left the DV untouched.
      */
    case object Merge extends CommitShape
    /** [[deleteWhere]] and [[metadataCommitProbe]]: carries the entries;
      * fails on any collision.
      */
    case object Delete extends CommitShape
  }

  /** Optimistic-concurrency publish of a STAGED commit (the Delta commit-
    * retry protocol, adapted to numbered data dirs): the data is already
    * written under a unique `.stage-*` name, so writers never contend on
    * data I/O — only the short claim+publish tail is raced. Per attempt:
    * claim `v<myNext>` (rename stage → vdir), drop the sidecars, publish
    * the manifest create-exclusively. On a collision, `shape` decides: a
    * [[CommitShape.Snapshot]] or [[CommitShape.Delete]] fails loudly; the
    * others re-resolve the winner's manifest and check it for CONFLICT
    * (`commit conflict`) — e.g. a winner whose commit changed any of a
    * rewrite's touched partitions means both writers merged the same
    * partition from the same base snapshot, so one update set would be
    * silently lost. Otherwise the commits COMMUTE: slide the claimed data
    * dir + sidecars to the next free number, recompute the entries (and DV
    * pointer) against the winner's manifest, and re-publish. Disjoint-
    * partition writers therefore ALL land, in either order. On a branched
    * table, a winner from a FOREIGN lineage only slides the claim number,
    * whatever the shape.
    *
    * An OCCUPIED unpublished `v<myNext>` is either a crashed writer's
    * orphan (reclaimed, so crash-replay converges without a vacuum pass)
    * or a concurrent writer inside its own claim→publish tail; the grace
    * re-checks distinguish them — that tail is a few metadata ops, so a
    * live writer's manifest appears within the 1 s wait and this writer
    * slides instead. A writer PAUSED longer than the grace inside the tail
    * could still be clobbered: the residual window of numbered data dirs
    * (content-addressed file names à la Delta would close it at the cost
    * of a file-level manifest).
    *
    * The claim itself is rename + MARKER VERIFICATION: Hadoop local/HDFS
    * rename onto an existing directory nests the source INSIDE it and
    * still returns true, so two writers racing the same number could both
    * believe they claimed it and the loser's next slide would rename the
    * winner's committed v-dir away. A unique `.claim-*` marker travels
    * with the payload; a rename whose marker does not surface at the vdir
    * top level lost the race — the nested payload is pulled back out to a
    * fresh stage and the claim retries against the now-occupied number.
    *
    * `dvStage = Some(dir)`: this commit carries its OWN deletion vector
    * (base DV ∪ this batch's masked positions — the [[mergeDv]] and
    * [[deleteWhere]] shapes); the staged DV is claimed into `d<myNext>`
    * alongside the data claim and the manifest's `#dv` points at it.
    *
    * `base` is the snapshot the commit was computed against: its version
    * is the semantic base, and every shape but [[CommitShape.Snapshot]]
    * (a wholesale replace) carries its entries and DV pointer forward.
    */
  private[graft] def publishStaged(
      spark: SparkSession, root: String, stage: Path, base: Snapshot,
      touchedNames: Seq[String], stats: Seq[(String, String, ColZone)],
      blooms: Seq[(String, String, Array[Long])], shape: CommitShape,
      dvStage: Option[Path] = None,
      ndv: Seq[(String, String, Array[Long])] = Nil): Long = {
    import CommitShape._
    val baseV = base.version
    val carried = Option.when(shape != Snapshot)(base)
    val baseEntries = carried.fold(Seq.empty[(String, Long)])(_.entries)
    val dvCarry0 = carried.flatMap(_.dv)
    // the entry rule (supersede the touched names, or add them) and
    // whether a collision may rebase at all
    val (supersede, retryable) = shape match {
      case Snapshot => (true, false)
      case Rewrite => (true, true)
      case Append | Merge => (false, true)
      case Delete => (false, false)
    }
    val (fs, rootP) = fsOf(spark, root)
    val baseSets = entrySetsOf(baseEntries)
    // BRANCHED tables (refs present): lineages share the manifest log, so
    // the claim number floor is the GLOBAL max (another lineage may hold
    // base+1..) while the semantic base stays this ref's head; after the
    // publish, one atomic marker create advances the ref. Each attempt
    // reads all three from one listing taken after staging.
    val refName = currentRef
    val listed = listRoot(fs, rootP)
    val hasRefs = listed.hasRefs
    if (commitRefTL.get().isDefined && !hasRefs) throw new IllegalStateException(
      s"no such branch '$refName' on $root — the table has no branches " +
        "(CALL system.create_branch first)")
    var lineageBase = baseV
    var myNext = baseV.map(_ + 1).getOrElse(1L)
    if (hasRefs) myNext = math.max(myNext, listed.maxVersion + 1)
    var prev = baseEntries
    var dvCarry = dvCarry0
    // the newest manifest in hand, whose `#ts` the publish floors on
    var known: Option[(Long, Manifest)] = baseV.map(_ -> base.manifest)
    var attempt = 0
    var committed = -1L
    val claimName = ".claim-" + java.util.UUID.randomUUID().toString.take(12)
    fs.create(new Path(stage, claimName), true).close()
    // rebase on the winner's manifest, or abort on budget/conflict/non-retryable
    def reResolve(cause: IllegalStateException): Unit = {
      val l = listRoot(fs, rootP)
      if (hasRefs && l.refHeads.get(refName) == lineageBase
          && sameLineageHead(l, refName, lineageBase) == lineageBase) {
        // every manifest above our head belongs to a FOREIGN lineage (our
        // ref's marker is unchanged AND no unmarked child carries our
        // `#ref` — a same-ref winner inside its publish→refMark window
        // would otherwise be mistaken for foreign and its rows silently
        // dropped from the head, ADVICE r19): nothing needs rebasing —
        // slide to a free number and retry (legal even for non-retryable
        // snapshot commits: no state of ours was invalidated)
        attempt += 1
        if (attempt > CommitRetries) throw cause
        myNext = math.max(l.maxVersion, myNext) + 1
        return
      }
      attempt += 1
      if (attempt > CommitRetries || !retryable) throw cause
      val newCur =
        if (hasRefs) {
          // rebase on the EFFECTIVE head: the winner's manifest (stamped
          // `#ref`/`#parent` atomically with its rename) is the durable
          // commit point even before its ref marker lands
          val marked = l.refHeads.getOrElse(refName, throw cause)
          sameLineageHead(l, refName, Some(marked)).getOrElse(marked)
        }
        else l.head.filter(_ >= myNext).getOrElse(throw cause)
      val newM = manifestAt(fs, rootP, newCur)
      val newEntries = newM.entries
      val newSets = entrySetsOf(newEntries)
      val newDv = newM.dv
      if (shape == Append) {
        // a BLIND APPEND references no base state, so it commutes with ANY
        // winner (Delta's blind-append rule) — no conflict check
      } else if (shape == Merge) {
        // a merge commit's staged positions and DV union stay valid iff the
        // winner changed no existing file (base entries all still present —
        // blind appends only) and left the DV pointer untouched; a rewrite
        // would orphan masked positions (resurrecting superseded rows), a
        // concurrent delete/merge changed the DV this commit unioned from.
        // An insert-only DML commit that stages NO DV keeps these rules
        // (its not-matched set was still computed against the base snapshot)
        if (newDv != dvCarry0 || !baseEntries.toSet.subsetOf(newEntries.toSet))
          throw new IllegalStateException(
            "commit conflict: a concurrent writer rewrote data or changed the deletion " +
              "vector this merge's staged positions were computed against — re-run the " +
              "merge against the current snapshot", cause)
      } else {
        val overlap = touchedNames.filter(p => baseSets.get(p) != newSets.get(p))
        if (overlap.nonEmpty)
          throw new IllegalStateException(
            "commit conflict: a concurrent writer touched partition(s) " +
              s"${overlap.sorted.mkString(", ")} this commit also rewrites (both " +
              "merged from the same base snapshot, one update set would be lost) — " +
              "re-run the merge against the current snapshot", cause)
        // a winner that changed ONLY the deletion vector changes no entries,
        // but a partition rewrite staged here was computed from the PRE-delete
        // base snapshot — republishing it would silently resurrect the
        // winner's deleted rows. Conflict when the DV delta's positions fall
        // inside this commit's touched partitions.
        if (touchedNames.nonEmpty && newDv != dvCarry0) {
          val hit = touchedNames.filter(
            dvDeltaDirs(spark, root, dvCarry0, newDv).contains)
          if (hit.nonEmpty)
            throw new IllegalStateException(
              "commit conflict: a concurrent DELETE changed the deletion vector inside " +
                s"partition(s) ${hit.sorted.mkString(", ")} this commit rewrites from its " +
                "pre-delete base snapshot (republishing would resurrect the deleted rows) — " +
                "re-run the merge against the current snapshot", cause)
        }
      }
      prev = newEntries
      dvCarry = newDv
      known = Some(newCur -> newM)
      lineageBase = Some(newCur)
      myNext = (if (hasRefs) math.max(l.maxVersion, newCur) else newCur) + 1
    }
    // Branched commits jump to the GLOBAL max + 1, so unlike the unbranched
    // consecutive-number protocol a same-ref winner that landed between the
    // caller's base-snapshot resolution and this point never forces a
    // number collision — whether it already ref-marked (head moved) or is
    // still inside its publish→refMark window (manifest stamped `#ref`,
    // marker pending). Rebase up front, or this publish would fork the
    // lineage and the winner's rows would vanish from the head once both
    // markers land (ADVICE r19).
    if (hasRefs && (listed.refHeads.get(refName) != lineageBase ||
        sameLineageHead(listed, refName, lineageBase) != lineageBase))
      reResolve(new IllegalStateException(
        "commit collision: a same-branch writer published after this " +
          "commit's base snapshot was resolved"))
    // the version number our data dir currently sits at (None: still staged)
    var stageCur = stage
    var dirAt: Option[Long] = None
    // likewise for the staged DV (claimed as d<number>)
    var dvAt: Option[Long] = None
    def srcDir: Path = dirAt.map(v => new Path(rootP, "v" + fmt(v))).getOrElse(stageCur)
    // rename + marker verification; a lost same-number race nests our
    // payload inside the winner's dir — pull it back to a fresh stage
    def renameClaim(vdir: Path): Boolean = {
      val src = srcDir
      if (!fs.rename(src, vdir)) false
      else if (fs.exists(new Path(vdir, claimName))) true
      else {
        val back = new Path(rootP,
          ".stage-" + java.util.UUID.randomUUID().toString.take(12))
        require(fs.rename(new Path(vdir, src.getName), back),
          s"claim recovery: pulling the nested payload back out of $vdir failed")
        dirAt = None; stageCur = back
        false
      }
    }
    val StClaimed = 0; val StPublished = 1; val StRaced = 2
    while (committed < 0) {
      val vdir = new Path(rootP, "v" + fmt(myNext))
      val manifestAt = new Path(rootP, ManifestPrefix + fmt(myNext))
      val state =
        if (dirAt.contains(myNext)) StClaimed
        else if (fs.exists(manifestAt)) StPublished
        else if (!fs.exists(vdir)) {
          if (renameClaim(vdir)) StClaimed else StRaced
        } else {
          // unpublished occupied dir: grace-wait for an in-flight writer's
          // manifest; none appearing means a crashed orphan — reclaim it
          val published = (0 until 4).exists { _ =>
            Thread.sleep(250)
            fs.exists(manifestAt)
          }
          if (published) StPublished
          else { fs.delete(vdir, true); if (renameClaim(vdir)) StClaimed else StRaced }
        }
      if (state == StPublished) {
        reResolve(new IllegalStateException(
          s"commit collision: version $myNext is claimed by another committed writer"))
      } else if (state == StRaced) {
        // lost a same-number rename race to an in-flight writer: loop — the
        // grace branch above waits for its publish or reclaims its orphan
      } else {
        dirAt = Some(myNext)
        if (stats.nonEmpty) writeSidecar(fs, rootP, StatsPrefix, myNext,
          stats.map { case (rel, c, z) => (rel, c, zoneText(z)) })
        Seq(BloomPrefix -> blooms, NdvPrefix -> ndv).foreach { case (pfx, rows) =>
          if (rows.nonEmpty) writeSidecar(fs, rootP, pfx, myNext,
            rows.map { case (rel, c, arr) => (rel, c, wordsText(arr)) })
        }
        // claim the staged DV into d<myNext>. Safe to reclaim a
        // pre-existing d-dir: every DV writer stages and claims its data
        // dir FIRST (deleteWhere included), so a d<myNext> with no
        // manifest at myNext belongs to a writer whose v<myNext> claim
        // this writer just won — a crashed orphan. Idempotent across
        // collision slides via dvAt (the dir moves with the data dir).
        dvStage.foreach { _ =>
          if (!dvAt.contains(myNext)) {
            val ddir = new Path(rootP, "d" + fmt(myNext))
            fs.delete(ddir, true)
            val src = dvAt.map(d => new Path(rootP, "d" + fmt(d))).getOrElse(dvStage.get)
            require(fs.rename(src, ddir), s"dv stage rename $src -> $ddir failed")
            dvAt = Some(myNext)
          }
        }
        try {
          val touched = touchedNames.map(_ -> myNext)
          val entries =
            if (supersede) prev.filterNot(e => touchedNames.contains(e._1)) ++ touched
            else prev ++ touched
          val prior = known.filter(_._1 == myNext - 1).map(_._2)
            .orElse(Some(myNext - 1).filter(_ > 0).flatMap(manifestIfAny(fs, rootP, _)))
          def pub(): Unit = publishManifest(fs, rootP, myNext, entries,
            if (dvStage.isDefined) Some(myNext) else dvCarry, prior)
          // branched: record the lineage parent AND ref name atomically
          // with the rename (fast-forward's ancestry walk; the `#ref` lets
          // a same-ref committer racing this one's publish→refMark window
          // adopt this manifest instead of forking the lineage — see
          // [[sameLineageHead]]) and advance the ref marker — a crash
          // between the two leaves an adoptable manifest, never a torn ref
          if (hasRefs)
            withDirective(s"#ref\t$refName")(
              withDirective(s"#parent\t${lineageBase.getOrElse(0L)}")(pub()))
          else pub()
          committed = myNext
          if (hasRefs) refMark(fs, rootP, refName, committed)
          fs.delete(new Path(vdir, claimName), false)
        } catch {
          case e: IllegalStateException if e.getMessage.startsWith("commit collision") =>
            // another writer published this number WITHOUT claiming its data
            // dir (e.g. a metadata-only [[restore]]). Rebase; our sidecars
            // at the lost number are stale — drop them (that committer's
            // paths never wrote sidecars, so nothing live is deleted); the
            // data dir and DV slide on the next claim pass via dirAt/dvAt.
            val before = myNext
            reResolve(e)
            Seq(StatsPrefix, BloomPrefix, NdvPrefix).foreach { pfx =>
              fs.delete(new Path(rootP, pfx + fmt(before)), false)
            }
        }
      }
    }
    committed
  }

  /** Metadata-only commit probe for the StressBench commit-path microbench
    * (VERDICT r16 #1): republish the CURRENT entries unchanged as the next
    * version, either via a direct [[publishManifest]] (`staged = false` —
    * the r14-shaped commit floor: prior-`#ts` resolve + manifest write +
    * arbiter rename) or through the full [[publishStaged]] claim protocol
    * with an empty stage dir (`staged = true` — adds the claim marker
    * create/verify/delete, the stage rename, and the rebase machinery).
    * No Spark job runs in either shape, so `staged − raw` measures the
    * r15/r16 protocol's per-commit metadata overhead in isolation.
    */
  private[graft] def metadataCommitProbe(spark: SparkSession, root: String,
                                         staged: Boolean): Long = {
    val snap = snapshot(spark, root)
    if (staged) {
      publishStaged(spark, root, stageData(spark, snap, None, None, Nil, Nil).dir,
        snap, Nil, Nil, Nil, CommitShape.Delete)
    } else {
      publishManifest(snap.fs, snap.rootP, snap.v + 1, snap.entries, snap.dv, Some(snap.manifest))
      snap.v + 1
    }
  }

  /** Committed manifest versions still on disk, ascending — the time-travel
    * horizon. [[vacuum]] trims everything behind current, so history is
    * bounded by vacuum cadence (the Delta/Iceberg VACUUM-vs-time-travel
    * tradeoff, verbatim).
    */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    listRoot(spark, root).versions

  /** The committed table as of the current manifest — or, with
    * `asOfVersion`, TIME TRAVEL to any still-on-disk manifest (immutable
    * version dirs make every historical snapshot a plain read; [[vacuum]]
    * bounds how far back this reaches). `schema` pins column types across
    * versions (include the partition column — the scan casts it from the
    * hive-style dir names); columns absent from older physical files read
    * as NULL, which is exactly additive schema evolution. The unhinted
    * [[planPrune]] of the version, scanned ([[scanFiles]]). A version no
    * manifest on disk holds (vacuumed or never committed) fails with an
    * `IllegalStateException`.
    */
  def read(spark: SparkSession, root: String, schema: StructType,
           asOfVersion: Option[Long] = None): DataFrame =
    read(spark, snapshot(spark, root, asOfVersion), schema)

  /** [[read]] of a resolved snapshot. */
  def read(spark: SparkSession, snap: Snapshot, schema: StructType): DataFrame =
    scanFiles(spark, schema, planPrune(snap), withMeta = false)

  /** [[read]] with the `__f`/`__pos` file-identity columns kept (scheme-
    * free path + parquet row index — the coordinates the deletion-vector
    * machinery keys on); everything else should use [[read]].
    */
  def readWithMeta(spark: SparkSession, root: String, schema: StructType,
                   asOfVersion: Option[Long] = None): DataFrame =
    scanFiles(spark, schema, planPrune(snapshot(spark, root, asOfVersion)),
      withMeta = true)

  // ---------------- deletion vectors (per-file row bitmaps) ---------------
  //
  // A deletion vector maps each data file's `__f` key (SpjBridge.fileKey) to a
  // Roaring bitmap of its masked parquet row indexes (`__pos`) — the Delta
  // and Iceberg v3 DV shape. `d<v>/` holds ONE driver-written file of them
  // (`DvFile`), so a DV commit runs no Spark write job and a masked scan no
  // broadcast job: readers load it on the driver and filter the scan.
  // SCALE: the whole DV lives on the driver, compressed — the broadcast
  // anti-join it replaced collected it there too under the broadcast
  // threshold — and [[compact]] folds it away.

  private[graft] type Dv = Map[String, org.roaringbitmap.RoaringBitmap]
  private val DvFile = "positions.roaring"
  private val DvMagic = 0x47445631 // "GDV1"

  /** Schema of a DV written as parquet by an older build — the one format
    * [[decodeLegacyDv]] still reads.
    */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("__f", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("__pos", org.apache.spark.sql.types.LongType)))

  /** Decoded DVs by `d<v>` dir, memoized like [[manifestAt]]: validated
    * by the bitmap file's (mtime, len) — a parquet-era dir by its own mtime
    * and len -1, so a bitmap file at the same path never matches it — and
    * cleared by [[invalidateBodyCache]]. Entries are shared by concurrent
    * tasks and never mutated after decode.
    */
  private val dvCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, Long, Dv)](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, (Long, Long, Dv)]): Boolean =
        size > 64
    })

  /** Deletion vector `d<d>` of `root` as per-file bitmaps, on the driver. */
  private[graft] def dvBitmaps(spark: SparkSession, root: String, d: Long): Dv = {
    val (fs, rootP) = fsOf(spark, root)
    val dir = new Path(rootP, "d" + fmt(d))
    val file = new Path(dir, DvFile)
    val st = try Some(fs.getFileStatus(file)) catch { case _: java.io.FileNotFoundException => None }
    val (mtime, len) = st.fold((fs.getFileStatus(dir).getModificationTime, -1L))(s =>
      (s.getModificationTime, s.getLen))
    val hit = dvCache.get(dir.toString)
    if (hit != null && hit._1 == mtime && hit._2 == len) hit._3
    else {
      val dv = if (st.isEmpty) decodeLegacyDv(spark, dir) else {
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(fs.open(file)))
        try {
          if (in.readInt() != DvMagic)
            throw new IllegalStateException(s"$file is not a graft deletion vector")
          Seq.fill(in.readInt()) {
            val f = in.readUTF()
            val b = new org.roaringbitmap.RoaringBitmap
            b.deserialize(in)
            f -> b
          }.toMap
        } finally in.close()
      }
      dvCache.put(dir.toString, (mtime, len, dv))
      dv
    }
  }

  /** A `d<v>` dir written before DVs were bitmap files: parquet
    * `(__f, __pos)` rows, decoded with one collect (then cached).
    */
  private def decodeLegacyDv(spark: SparkSession, dir: Path): Dv =
    bitmapsOf(spark.read.schema(DvSchema).parquet(dir.toString).collect().iterator
      .map(r => (r.getString(0), r.getLong(1))))

  /** Fresh per-file bitmaps built one `(__f, __pos)` at a time (duplicates
    * collapse) — on the driver or in an executor task.
    */
  private[graft] final class DvBuilder {
    private val m = scala.collection.mutable.HashMap.empty[String, org.roaringbitmap.RoaringBitmap]
    def add(f: String, pos: Long): Unit = {
      if (pos < 0 || pos > Int.MaxValue) throw new IllegalStateException(
        s"deletion vector: row index $pos of $f is outside [0, 2^31) — refusing to mask it")
      m.getOrElseUpdate(f, new org.roaringbitmap.RoaringBitmap).add(pos.toInt)
    }
    def result(): Dv = { m.foreach(_._2.runOptimize()); m.toMap }
  }

  private def bitmapsOf(it: Iterator[(String, Long)]): Dv = {
    val b = new DvBuilder
    it.foreach { case (f, pos) => b.add(f, pos) }
    b.result()
  }

  /** A scan's `(__f, __pos)` positions as per-file bitmaps: built per
    * partition on the executors and OR-ed on the driver, in ONE job.
    */
  private[graft] def collectDv(positions: DataFrame): Dv =
    positions.select("__f", "__pos").queryExecution.toRdd.mapPartitions(it =>
      Iterator(bitmapsOf(it.map(r => (r.getUTF8String(0).toString, r.getLong(1))))))
      .collect().foldLeft(Map.empty: Dv)(orDv)

  /** The union of two DVs; both inputs stay untouched (cached bitmaps are shared). */
  private[graft] def orDv(a: Dv, b: Dv): Dv =
    b.foldLeft(a) { case (acc, (f, bm)) =>
      acc.updated(f, acc.get(f).fold(bm)(org.roaringbitmap.RoaringBitmap.or(_, bm)))
    }

  /** Stage `base ∪ added` as one bitmap file in a fresh `.stage-*-dv` dir,
    * ready for [[publishStaged]]'s claim into `d<v>`.
    */
  private def stageDv(spark: SparkSession, root: String, base: Option[Long],
                      added: Dv): Path = {
    val (fs, rootP) = fsOf(spark, root)
    val dv = orDv(base.fold(Map.empty: Dv)(dvBitmaps(spark, root, _)), added)
    val dir = new Path(rootP, ".stage-" + java.util.UUID.randomUUID().toString.take(12) + "-dv")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(new Path(dir, DvFile), true)))
    try {
      out.writeInt(DvMagic)
      out.writeInt(dv.size)
      dv.foreach { case (f, b) => out.writeUTF(f); b.serialize(out) }
    } finally out.close()
    dir
  }

  /** Partition dirs whose masking differs between DVs `a` and `b`,
    * compared file by file on the driver. The dir is the key's segments
    * between its `v########` data-version dir and the file name, URI-
    * decoded back to the on-disk name the manifest entries use.
    */
  private def dvDeltaDirs(spark: SparkSession, root: String,
                          a: Option[Long], b: Option[Long]): Set[String] =
    if (a == b) Set.empty
    else {
      val Seq(da, db) = Seq(a, b).map(_.fold(Map.empty: Dv)(dvBitmaps(spark, root, _)))
      (da.keySet ++ db.keySet).filter(f => da.get(f) != db.get(f)).map { f =>
        val segs = new java.net.URI(f).getPath.split('/')
        val at = segs.lastIndexWhere(s =>
          s.length == 9 && s.head == 'v' && s.tail.forall(_.isDigit), segs.length - 2)
        segs.slice(at + 1, segs.length - 1).mkString("/")
      }
    }

  /** Hive-style partition dir name for a value, matching Spark's own
    * partitioned-write rendering (escaped specials; NULL as the Hive
    * default-partition token). The dir text is the value's string form,
    * which is how Spark renders string/numeric partition values.
    */
  def partDirName(col: String, value: Any): String = value match {
    case null => s"$col=__HIVE_DEFAULT_PARTITION__"
    case x => s"$col=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(String.valueOf(x))
  }

  /** `plan`'s files under `schema0`, the rows its deletion vector masks
    * dropped: a frame over the plan's ONE [[GraftScan]]. `withMeta = true`
    * appends the `__f`/`__pos` columns (scheme-free path + parquet row
    * index) the DV machinery keys on.
    */
  private[graft] def scanFiles(spark: SparkSession, schema0: StructType,
                               plan: PrunePlan, withMeta: Boolean): DataFrame = {
    val meta = if (withMeta) GraftMetaColumns.Schema else Nil
    SpjBridge.frame(spark, new PlannedTable(spark, plan, StructType(SpjBridge.nullable(schema0) ++ meta)))
  }

  // ===================== zone maps (file skipping) ======================
  //
  // The data-skipping layer every lakehouse format ships (Delta/Iceberg
  // file stats, parquet row-group pruning writ large): per-file min/max for
  // chosen columns, harvested from the parquet FOOTERS the write already
  // produced — O(files) footer reads at commit time, never a second data
  // scan — published as a `_stats.<dataVersion>` sidecar BEFORE the
  // manifest rename (so any committed version's stats are complete; a
  // crash between the two leaves an orphan sidecar the next vacuum
  // reclaims). At 100 TB this is the difference between "scan 10k files"
  // and "open the 12 whose key range can intersect the predicate" for any
  // query with a selective range on a clustered column.

  private def hex(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
  private def unhex(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, "UTF-8")

  /** Relative paths of every data file under a just-written version dir
    * (sidecar/_temp names skipped) — the file universe of the commit-side
    * footer harvests.
    */
  private def listDataFiles(fs: FileSystem, vdir: Path): Seq[String] =
    listDataStatus(fs, vdir).map(relTo(fs, vdir))

  /** Every data file under `dir`, recursively — the listing behind
    * [[listDataFiles]] and [[planPrune]], the one enumeration of a
    * snapshot's files. Sidecar key sets are NOT a universe: a file whose
    * bloom-indexed column is entirely NULL writes no `_bloom` entry
    * (harvestBlooms filters isNotNull), so a version committed with
    * bloomCols but no statsCols would silently lose that file from every
    * pruned scan (ADVICE r12).
    */
  private def listDataStatus(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) listDataStatus(fs, st.getPath)
      else Seq(st)
    }

  /** A listed file's path relative to `vdir`. listStatus returns scheme-
    * qualified paths (file:/…) — qualify the base the same way or the
    * strip silently no-ops.
    */
  private def relTo(fs: FileSystem, vdir: Path): FileStatus => String = {
    val base = fs.makeQualified(vdir).toString
    st => fs.makeQualified(st.getPath).toString.stripPrefix(base).stripPrefix("/")
  }

  /** Read each parquet file's footer under `vdir` and merge row-group
    * statistics per requested column. Only top-level scalar columns carry
    * zone maps (nested paths don't match the dot-name filter).
    */
  private def harvestStats(fs: FileSystem, vdir: Path,
                           statsCols: Seq[String]): Seq[(String, String, ColZone)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val want = statsCols.toSet
    // footer reads are independent per file and I/O-bound — a serial loop
    // charges ~5-15 ms/file of DRIVER wall time to every commit (a 60-dir
    // commit pays ~0.5 s between jobs); a bounded pool overlaps them.
    // Order is preserved (parMapOrdered), so the sidecar bytes are
    // identical to the serial harvest's.
    parMapOrdered(listDataFiles(fs, vdir)) { rel =>
      val f = new Path(vdir, rel)
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(f, fs.getConf))
      val (chunks, fileRows) =
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          (blocks.flatMap(_.getColumns.asScala), blocks.map(_.getRowCount).sum)
        } finally reader.close()
      // per-file ROW COUNT, riding the same footer pass as the zones: the
      // scan-statistics seam reports numRows to Catalyst from these
      // ([[estimatePrunedRows]]), giving CBO/join planning a row estimate
      // as exact as the byte one. Stored under a NUL-prefixed pseudo-column
      // no SQL identifier can collide with.
      val rowEntry = Seq((rel, RowsCol, ColZone('N', fileRows.toString, "", allNull = false)))
      rowEntry ++ chunks.filter(c => want.contains(c.getPath.toDotString))
        .groupBy(_.getPath.toDotString)
        .flatMap { case (colName, cs) =>
          val tag = cs.head.getPrimitiveType.getPrimitiveTypeName match {
            case INT32 | INT64 => 'L'
            case FLOAT | DOUBLE => 'D'
            case BINARY => 'S'
            case _ => ' ' // INT96/BOOLEAN/FIXED: no zone map
          }
          val pairs = cs.map(c => (c, c.getStatistics))
          // A chunk reporting NO min/max while holding fewer nulls than
          // values contains non-null values the writer refused to bound:
          // Spark 4's parquet writer drops float/double min/max ENTIRELY
          // when a chunk contains NaN (probed r15 — mixed [1.0, 3.0, NaN]
          // and all-NaN chunks both come back hasNonNullValue=false,
          // numNulls=0). Spark ranks NaN above every value, so treating
          // such a chunk as all-null would let pruning drop NaN rows and
          // colBounds answer NULL where the scan answers NaN. Emit no zone
          // at all: pruning keeps the file, aggregate pushdown declines.
          val untrusted = pairs.exists { case (c, s) =>
            s != null && !s.isEmpty && !s.hasNonNullValue &&
              (s.getNumNulls < 0 || s.getNumNulls < c.getValueCount)
          }
          val stats = cs.map(_.getStatistics)
          if (tag == ' ' || untrusted ||
              stats.exists(s => s == null || s.isEmpty)) None
          else if (stats.forall(!_.hasNonNullValue))
            Some((rel, colName, ColZone(tag, "", "", allNull = true)))
          else {
            val nonNull = stats.filter(_.hasNonNullValue)
            def asStr(v: Any): String = v match {
              case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
              case x => x.toString
            }
            val mins = nonNull.map(s => asStr(s.genericGetMin))
            val maxs = nonNull.map(s => asStr(s.genericGetMax))
            val (mn, mx) = tag match {
              case 'L' => (mins.map(_.toLong).min.toString, maxs.map(_.toLong).max.toString)
              case 'D' => (mins.map(_.toDouble).min.toString, maxs.map(_.toDouble).max.toString)
              case _ => (mins.min, maxs.max)
            }
            Some((rel, colName, ColZone(tag, mn, mx, allNull = false)))
          }
        }
    }.flatten
  }

  /** Map `f` over `xs` on a bounded thread pool, preserving input order.
    * For independent driver-side I/O (parquet footer reads) only — `f`
    * must not touch Spark session state.
    */
  private def parMapOrdered[A, B](xs: Seq[A], threads: Int = 16)(f: A => B): Seq[B] = {
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, xs.size))
      try {
        import scala.jdk.CollectionConverters._
        val futs = pool.invokeAll(
          xs.map(x => new java.util.concurrent.Callable[B] {
            override def call(): B = f(x)
          }).asJava)
        try futs.asScala.toSeq.map(_.get())
        catch {
          // rethrow the task's own failure, as the serial loop would
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      } finally pool.shutdown()
    }
  }

  /** THE skipping-sidecar codec — `_stats.`, `_bloom.` and `_ndv.` plus
    * the data version: one line per (file, column), `relPathHex \t colHex
    * \t payload` — hex framing so partition values / string bounds can't
    * break the TSV. Zone payloads are `tag \t allNull \t minHex \t maxHex`
    * (every number rides its locale-free `toString`); Bloom words and KMV
    * minima are 16-hex-digit longs.
    */
  private def writeSidecar(fs: FileSystem, rootP: Path, pfx: String, dataVersion: Long,
                           rows: Seq[(String, String, String)]): Unit = {
    val body = rows.map { case (rel, c, payload) => s"${hex(rel)}\t${hex(c)}\t$payload" }
      .mkString("", "\n", "\n")
    val out = fs.create(new Path(rootP, pfx + fmt(dataVersion)), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** relPath → (col → decoded payload) of a data version's `pfx` sidecar,
    * or None when the version committed without one (pruning then falls
    * back to reading it whole).
    */
  private def loadSidecar[T](fs: FileSystem, rootP: Path, pfx: String, dataVersion: Long)
                            (decode: String => T): Option[Map[String, Map[String, T]]] = {
    val in = try fs.open(new Path(rootP, pfx + fmt(dataVersion)))
      catch { case _: java.io.FileNotFoundException => return None }
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    Some(body.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(rel, c, payload) = line.split("\t", 3)
      (unhex(rel), unhex(c), decode(payload))
    }.toSeq.groupBy(_._1).map { case (rel, rows) => rel -> rows.map(r => r._2 -> r._3).toMap })
  }

  private def zoneText(z: ColZone): String =
    s"${z.tag}\t${if (z.allNull) 1 else 0}\t${hex(z.minS)}\t${hex(z.maxS)}"
  private def zoneOf(payload: String): ColZone = {
    val Array(tag, nul, mn, mx) = payload.split("\t", 4)
    ColZone(tag.head, unhex(mn), unhex(mx), nul == "1")
  }
  private def wordsText(arr: Array[Long]): String = arr.map(w => f"$w%016x").mkString
  private def wordsOf(payload: String): Array[Long] =
    payload.grouped(16).map(java.lang.Long.parseUnsignedLong(_, 16)).toArray

  private def loadStats(fs: FileSystem, rootP: Path, dataVersion: Long) =
    loadSidecar(fs, rootP, StatsPrefix, dataVersion)(zoneOf)
  private def loadBlooms(fs: FileSystem, rootP: Path, dataVersion: Long) =
    loadSidecar(fs, rootP, BloomPrefix, dataVersion)(wordsOf)
  private def loadNdv(fs: FileSystem, rootP: Path, dataVersion: Long) =
    loadSidecar(fs, rootP, NdvPrefix, dataVersion)(wordsOf)

  /** Can a file with these zones hold a row matching every range? */
  private def survives(zones: Map[String, ColZone], ranges: Seq[ColRange]): Boolean =
    ranges.forall { r =>
      zones.get(r.col) match {
        case None => true // no zone map for this column: cannot prune
        case Some(z) if z.allNull => false // NULL never matches a range
        case Some(z) =>
          def num(v: Any): Double = v match {
            case n: Number => n.doubleValue()
            case t: java.sql.Timestamp => t.getTime * 1000.0 + (t.getNanos % 1000000) / 1000.0
            case x => throw new IllegalArgumentException(
              s"range bound for numeric column ${r.col} must be a Number or Timestamp, got $x")
          }
          z.tag match {
            case 'S' =>
              !(r.lo != null && z.maxS < r.lo.toString) &&
                !(r.hi != null && z.minS > r.hi.toString)
            case 'L' | 'D' =>
              val (mn, mx) = (z.minS.toDouble, z.maxS.toDouble)
              !(r.lo != null && mx < num(r.lo)) &&
                !(r.hi != null && mn > num(r.hi))
          }
      }
    }

  // ------------------------- bloom sidecars ---------------------------
  //
  // Zone maps prune RANGES on clustered columns; they are blind to point
  // lookups on an unclustered high-cardinality key (every file's [min,max]
  // spans the whole domain). Per-file Bloom filters are the standard
  // complement (Delta bloom indexes, parquet bloom filters lifted to FILE
  // granularity): k md5-derived bit positions per key, OR-ed per file, so
  // `key = x` skips every file whose filter provably lacks x. Harvest is
  // one scan of the JUST-WRITTEN version (O(commit), never O(table)),
  // aggregated as (file, word) bit_or — map-side combinable, bounded by
  // files × m/64 rows.

  private val BloomPrefix = "_bloom."
  private val BloomBits = 8192 // m: bits per (file, column) filter
  private val BloomHashes = 4 // k

  /** k Kirsch-Mitzenmacher positions `(h1 + i·h2) mod m` from md5 of the
    * value's string form — the portable two-hash scheme the minhash family
    * already relies on.
    */
  private def bloomPositions(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val h1 = conv(substring(md5(v), 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(md5(v), 9, 8), 16, 10).cast("long")
    array((0 until BloomHashes).map(i => pmod(h1 + lit(i.toLong) * h2, lit(BloomBits.toLong))): _*)
  }

  private def harvestBlooms(spark: SparkSession, fs: FileSystem, vdir: Path,
                            bloomCols: Seq[String]): Seq[(String, String, Array[Long])] =
    harvestBloomsAndNdv(spark, fs, vdir, bloomCols)._1

  /** ONE aggregation job per bloom column serves BOTH skipping sidecars:
    * `groupBy(file).agg(bloom_words, kmv_state)` — the native Bloom
    * aggregate ([[org.apache.spark.sql.graft.BloomWordsAgg]], position
    * math pinned bit-for-bit against [[bloomPositions]]/[[pointPositions]]
    * by BloomAggSpec) ORs bit positions straight into the word buffer, so
    * the old explode(k×)+groupBy(file,word) shuffle AND a second NDV pass
    * are both gone — the per-commit harvest now costs less than the r18
    * Bloom harvest alone.
    */
  private def harvestBloomsAndNdv(spark: SparkSession, fs: FileSystem, vdir: Path,
                                  bloomCols: Seq[String],
                                  schema: Option[StructType] = None)
      : (Seq[(String, String, Array[Long])], Seq[(String, String, Array[Long])]) = {
    import org.apache.spark.sql.functions._
    // input_file_name() and makeQualified render the scheme differently
    // (file:/// vs file:/) — compare scheme-free URI paths
    val base = new Path(fs.makeQualified(vdir).toString).toUri.getPath
    val universe = listDataFiles(fs, vdir)
    // callers pass the just-written frame's schema so the harvest skips
    // parquet schema inference (a footer-merge job per commit, r22); any
    // hidden-transform partition column the schema omits is appended by
    // Spark's dir discovery, and the harvest selects only bloomCols anyway
    val df = schema.fold(spark.read)(s => spark.read.schema(s))
      .parquet(vdir.toString)
    val both = bloomCols.map { c =>
      // the portable 60-bit md5 hash (q95/q116 convention)
      val hv = conv(substring(md5(col("v")), 1, 15), 16, 10).cast("long")
      val rows = df.select(input_file_name().as("f"), col(c).cast("string").as("v"))
        .filter(col("v").isNotNull)
        .select(col("f"), col("v"), hv.as("h"))
        .groupBy("f")
        .agg(org.apache.spark.sql.graft.BloomWordsAgg
          .column(col("v"), BloomBits, BloomHashes).as("bw"),
          org.apache.spark.sql.graft.KmvColumns.kmvState(col("h"), NdvK).as("m"))
        .collect()
      val got = rows.map { r =>
        val rel = new Path(r.getString(0)).toUri.getPath
          .stripPrefix(base).stripPrefix("/")
        (rel, r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray)
      }
      val blooms = got.toSeq.map { case (rel, bw, _) => (rel, c, bw) }
      // an all-NULL file drops out of the aggregate — record an EMPTY NDV
      // sketch (zero distinct, exact), never a missing one (which would
      // drop the whole column from pruned estimates); Bloom entries stay
      // absent for such files as before (harvest filters isNotNull)
      val have = got.map(_._1).toSet
      val ndv = got.toSeq.map { case (rel, _, m) => (rel, c, m) } ++
        universe.filterNot(have).map((_, c, Array.empty[Long]))
      (blooms, ndv)
    }
    (both.flatMap(_._1), both.flatMap(_._2))
  }

  // ---------------------- NDV sketches (per-file KMV) --------------------
  //
  // Column statistics for the planner (CBO join/filter estimation wants
  // distinct counts, not just bytes): per (file, bloom column) the k
  // smallest distinct 60-bit md5 hashes — the [[org.apache.spark.sql
  // .graft.KmvSketch]] state, persisted. KMV sketches UNION exactly
  // (k smallest of a union = k smallest of the concatenated minima), so a
  // pruned scan's NDV estimate merges exactly the files it will read —
  // the same granularity as the byte/row estimates. Rides the SAME
  // commit-scoped scan as the Bloom harvest (bloom columns are the join
  // keys, exactly where NDV matters), costs one bounded aggregate
  // (≤ NdvK longs per file per column shipped to the driver).

  private val NdvK = 128

  private def ndvOfPerFile(perFile: Seq[Map[String, Array[Long]]]): Map[String, Long] =
    if (perFile.isEmpty) Map.empty
    else {
      // a column survives only when EVERY kept file carries its sketch —
      // cross-version bloomCols drift drops the column, never a partial sum
      val cols = perFile.flatMap(_.keys).distinct
        .filter(c => perFile.forall(_.contains(c)))
      cols.map { c =>
        val set = scala.collection.mutable.TreeSet.empty[Long]
        perFile.foreach(_(c).foreach(
          org.apache.spark.sql.graft.KmvSketch.offer(set, _, NdvK)))
        c -> org.apache.spark.sql.graft.KmvSketch.estimate(set, NdvK)
      }.toMap
    }

  /** Driver-side replay of [[bloomPositions]] on a point value. */
  private def pointPositions(value: Any): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hx = md.digest(String.valueOf(value).getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    val h1 = java.lang.Long.parseLong(hx.substring(0, 8), 16)
    val h2 = java.lang.Long.parseLong(hx.substring(8, 16), 16)
    (0 until BloomHashes).map(i => (((h1 + i.toLong * h2) % BloomBits + BloomBits) % BloomBits).toInt)
  }

  private def bloomMightContain(arr: Array[Long], value: Any): Boolean =
    pointPositions(value).forall(p => (arr(p / 64) & (1L << (p % 64))) != 0)

  /** `(keptFiles, totalFiles)` the given ranges would leave readable — the
    * observable pruning effect, for tests and ops telemetry. Counts cover
    * only versions that HAVE stats; versions without stats read whole and
    * count as kept. With no hints no sidecar is opened and the answer is
    * every live file, all kept.
    */
  def pruneCounts(spark: SparkSession, root: String, ranges: Seq[ColRange],
                  points: Seq[(String, Any)] = Nil,
                  pointsAny: Seq[(String, Seq[Any])] = Nil): (Int, Int) =
    planPrune(snapshot(spark, root), ranges, points, pointsAny).counts

  /** Does the (possibly NESTED — composite specs write
    * `ts_day=…/user_id_bucket=…`) hive-style dir path survive the
    * conjunctive hints? Segments are independent constraints: the dir
    * survives only if EVERY segment does, so predicates on either (or
    * both) composite dimension prune.
    */
  private def dirSurvives(dirName: String, specsByPhys: Map[String, PartSpec],
                          ranges: Seq[ColRange], points: Seq[(String, Any)],
                          pointsAny: Seq[(String, Seq[Any])]): Boolean =
    dirName.split("/").forall(seg =>
      segSurvives(seg, specsByPhys, ranges, points, pointsAny))

  /** One `col=value` segment of [[dirSurvives]]. The segment's own column
    * name selects the spec FIELD that wrote it (identity or hidden
    * transform, current or historical — partition evolution leaves
    * old-spec dirs in place and they keep pruning under their own
    * mapping); a segment matching no known spec falls back to the legacy
    * identity string-compare on its own column name. Everything
    * unmappable keeps the dir — pruning is always a correct superset.
    */
  private def segSurvives(dirName: String, specsByPhys: Map[String, PartSpec],
                          ranges: Seq[ColRange], points: Seq[(String, Any)],
                          pointsAny: Seq[(String, Seq[Any])]): Boolean = {
    val i = dirName.indexOf('=')
    if (i < 0) return true
    val phys = dirName.substring(0, i)
    val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(dirName.substring(i + 1))
    specsByPhys.get(phys) match {
      case Some(spec) =>
        val src = spec.source
        val pts = points.filter(_._1 == src)
        val anys = pointsAny.filter(_._1 == src)
        val rngs = if (spec.monotone) ranges.filter(_.col == src) else Nil
        if (pts.isEmpty && anys.isEmpty && rngs.isEmpty) true
        else if (raw == "__HIVE_DEFAULT_PARTITION__") false // hints are null-rejecting
        else {
          // equality: every conjunctive point must map to THIS dir's value;
          // IN-lists need at least one member to. applyValue = None means
          // "no constraint from this hint" (forall on None = keep).
          val ptsOk = pts.forall(p =>
            spec.applyValue(p._2).forall(d => String.valueOf(d) == raw))
          val anysOk = anys.forall(a =>
            a._2.exists(x => spec.applyValue(x).forall(d => String.valueOf(d) == raw)))
          // ranges (monotone specs only): map bounds into the derived
          // domain and compare typed against the dir's parsed value
          val rngsOk = rngs.forall { r =>
            val lo = Option(r.lo).flatMap(spec.applyValue)
            val hi = Option(r.hi).flatMap(spec.applyValue)
            dirValueInRange(raw, lo, hi)
          }
          ptsOk && anysOk && rngsOk
        }
      case None =>
        // legacy path-first tables (no sidecar): identity string-compare
        // against the dir's own column name, equality/IN only
        points.filter(_._1 == phys).forall(p => String.valueOf(p._2) == raw) &&
          pointsAny.filter(_._1 == phys)
            .forall(_._2.exists(x => String.valueOf(x) == raw))
    }
  }

  /** Typed range check of a rendered dir value against derived-domain
    * bounds. Comparison domains tried in order: integral, double,
    * ISO-date-vs-epoch-day (identity DATE partitioning), ASCII-only
    * lexicographic strings (Java UTF-16 order diverges from Spark's UTF-8
    * byte order only beyond ASCII — non-ASCII keeps the dir). Anything
    * unparseable keeps the dir.
    */
  private def dirValueInRange(raw: String, lo: Option[Any], hi: Option[Any]): Boolean = {
    def num(v: Any): Option[Long] = v match {
      case i: java.lang.Integer => Some(i.toLong)
      case l: java.lang.Long => Some(l)
      case s: java.lang.Short => Some(s.toLong)
      case b: java.lang.Byte => Some(b.toLong)
      case _ => None
    }
    def dbl(v: Any): Option[Double] = v match {
      case d: java.lang.Double => Some(d)
      case f: java.lang.Float => Some(f.toDouble)
      case _ => None
    }
    val rawLong = raw.toLongOption
    if (rawLong.isDefined && (lo.forall(num(_).isDefined) && hi.forall(num(_).isDefined))) {
      val x = rawLong.get
      lo.flatMap(num).forall(x >= _) && hi.flatMap(num).forall(x <= _)
    } else if (raw.toDoubleOption.isDefined &&
        (lo.forall(v => dbl(v).orElse(num(v).map(_.toDouble)).isDefined) &&
         hi.forall(v => dbl(v).orElse(num(v).map(_.toDouble)).isDefined))) {
      // a FLOAT bound must compare in FLOAT domain: (double)0.1f is
      // 0.10000000149…, while the dir text "0.1" parses to the double 0.1 —
      // widening the bound would falsely prune the dir whose value EQUALS
      // it (ADVICE r18). Parse the dir text as a float for float bounds;
      // any parse mismatch keeps the dir (pruning stays a superset).
      def boundOk(b: Any, isLo: Boolean): Boolean = b match {
        case f: java.lang.Float =>
          raw.toFloatOption.forall(x =>
            if (isLo) x >= f.floatValue else x <= f.floatValue)
        case v =>
          dbl(v).orElse(num(v).map(_.toDouble)).forall(d =>
            if (isLo) raw.toDouble >= d else raw.toDouble <= d)
      }
      lo.forall(boundOk(_, isLo = true)) && hi.forall(boundOk(_, isLo = false))
    } else {
      val asDate = try Some(java.time.LocalDate.parse(raw).toEpochDay)
        catch { case _: Exception => None }
      // identity DATE dirs render ISO; bounds arrive as internal epoch-day
      // ints (Catalyst hints) or external dates (V1 sources.Filter)
      def dateNum(v: Any): Option[Long] = v match {
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case other => num(other)
      }
      if (asDate.isDefined && lo.forall(dateNum(_).isDefined) && hi.forall(dateNum(_).isDefined)) {
        val x = asDate.get
        lo.flatMap(dateNum).forall(x >= _) && hi.flatMap(dateNum).forall(x <= _)
      } else (lo, hi) match {
        case (ls, hs) if ls.forall(_.isInstanceOf[String]) && hs.forall(_.isInstanceOf[String])
            && raw.forall(_ < 128)
            && ls.forall(_.asInstanceOf[String].forall(_ < 128))
            && hs.forall(_.asInstanceOf[String].forall(_ < 128)) =>
          ls.forall(l => raw.compareTo(l.asInstanceOf[String]) >= 0) &&
            hs.forall(h => raw.compareTo(h.asInstanceOf[String]) <= 0)
        case _ => true
      }
    }
  }

  /** `(bytes, rows, ndv)` the given hints leave readable in snapshot `v` —
    * one pruned plan, one file listing, all three estimates. Rows come
    * from the `_stats` sidecars' per-file footer counts; `None` when ANY
    * surviving file lacks a row-count entry (versions committed before
    * r19 or without statsCols) — a partial sum would UNDER-report, the
    * direction that breaks broadcast decisions — and `None` whenever the
    * snapshot carries a DELETION VECTOR (ADVICE r19, the [[colBounds]]
    * guard): the footer sums would report an exact-looking pre-delete
    * count to CBO's cardinality estimation, and subtracting the DV from
    * metadata alone is unsafe (inert positions on superseded files and
    * legacy duplicate pairs would OVER-subtract — the under-report
    * direction). Bytes keep the superset contract regardless — a size
    * overcount merely declines a broadcast. `ndv` maps each bloom column
    * whose KMV sketch EVERY kept file carries to its merged
    * distinct-count estimate (exact under `NdvK` distinct values) —
    * all-or-nothing per column, since a partial union UNDER-estimates;
    * DV-masked rows stay counted, and an empty file set yields no columns.
    */
  def estimatePruned(spark: SparkSession, root: String, v: Long,
                     ranges: Seq[ColRange],
                     points: Seq[(String, Any)] = Nil,
                     pointsAny: Seq[(String, Seq[Any])] = Nil)
      : (Long, Option[Long], Map[String, Long]) =
    estimatePruned(planPrune(snapshot(spark, root, Some(v)), ranges, points, pointsAny))

  /** [[estimatePruned]] of an already planned prune — one plan serves a
    * catalog scan's statistics and its read (`GraftScan`).
    */
  private[graft] def estimatePruned(plan: PrunePlan): (Long, Option[Long], Map[String, Long]) = {
    val (fs, rootP) = (plan.snap.fs, plan.snap.rootP)
    var bytes = 0L
    var rows = 0L
    var haveRows = plan.dv.isEmpty
    val perFile = Seq.newBuilder[Map[String, Array[Long]]]
    plan.kept.foreach { case (dv, _, kept) =>
      bytes += kept.map(_._2.getLen).sum
      if (kept.nonEmpty) {
        if (haveRows) loadStats(fs, rootP, dv) match {
          case None => haveRows = false
          case Some(stats) => kept.foreach { case (rel, _) =>
            if (haveRows) stats.get(rel).flatMap(_.get(RowsCol)) match {
              case Some(z) => rows += z.minS.toLong
              case None => haveRows = false
            }
          }
        }
        val sketches = loadNdv(fs, rootP, dv).getOrElse(Map.empty)
        kept.foreach { case (rel, _) =>
          perFile += sketches.getOrElse(rel, Map.empty) }
      }
    }
    (bytes, if (haveRows) Some(rows) else None, ndvOfPerFile(perFile.result()))
  }

  /** Storage-partitioned-join layout probe (r20): `Some((leaves, groups))`
    * when `plan`'s snapshot of a declared bucket-bearing table can be read
    * as one file set per partition tuple — each `groups` entry is (typed
    * leaf values, the plan's kept files of that tuple). Eligible specs: a
    * single `bucket(n, col)` leaf, or a composite of bucket/days/hours/
    * months/years leaves WITH a bucket (`days(ts), bucket(n, k)`). Leaf
    * values are Int bucket ids and Long time values, as the catalog's V2
    * functions return them. A single-bucket layout lists ALL n buckets
    * (both join sides then expose the same keys); composite layouts list
    * the OBSERVED tuples, which Spark pads (`pushPartValues`). `None` —
    * the plain scan, always correct — for other leaves, a live entry off
    * the current layout (evolution mix, a NULL time value's default dir),
    * or a deletion vector.
    */
  private[graft] def spjLayout(plan: PrunePlan)
      : Option[(Seq[PartSpec], Seq[(Seq[Any], Seq[FileStatus])])] = {
    if (plan.dv.isDefined) return None
    val leaves: Seq[PartSpec] = plan.snap.ddl.spec.map(_.leaves).getOrElse(return None)
    val eligible = leaves.nonEmpty &&
      leaves.exists(_.isInstanceOf[PartSpec.Bucket]) &&
      leaves.forall {
        case _: PartSpec.Bucket | _: PartSpec.Days | _: PartSpec.Hours |
             _: PartSpec.Months | _: PartSpec.Years => true
        case _ => false
      }
    if (!eligible) return None
    def parseLeaf(leaf: PartSpec, s: String): Option[Any] = leaf match {
      case b: PartSpec.Bucket => s.toIntOption.filter(i => i >= 0 && i < b.n)
      case _ => s.toLongOption
    }
    // "ts_day=19723/k_bucket=3" -> Seq(19723L, 3) under the declared leaves
    def dirValues(name: String): Option[Seq[Any]] = {
      val segs = name.split('/')
      if (segs.length != leaves.length) return None
      val out = Seq.newBuilder[Any]
      segs.iterator.zip(leaves.iterator).foreach { case (seg, leaf) =>
        val pfx = leaf.physName + "="
        if (!seg.startsWith(pfx)) return None
        parseLeaf(leaf, seg.stripPrefix(pfx)) match {
          case Some(x) => out += x
          case None => return None
        }
      }
      Some(out.result())
    }
    // every live entry must conform to the CURRENT layout — a "" entry or
    // a foreign dir is pre-evolution data outside the clustering
    if (!plan.snap.entries.forall(e => dirValues(e._1).isDefined))
      return None
    val groups = scala.collection.mutable.LinkedHashMap[
      Seq[Any], scala.collection.mutable.Builder[FileStatus, Seq[FileStatus]]]()
    leaves match {
      case Seq(b: PartSpec.Bucket) =>
        (0 until b.n).foreach(i => groups(Seq(i)) = Seq.newBuilder)
      case _ => ()
    }
    plan.kept.foreach { case (_, _, kept) =>
      kept.foreach { case (rel, st) =>
        val key = dirValues(rel.substring(0, math.max(rel.lastIndexOf('/'), 0)))
          .getOrElse(throw new IllegalStateException(
            s"spjLayout: live file $rel escaped the checked layout"))
        groups.getOrElseUpdate(key, Seq.newBuilder) += st
      }
    }
    Some((leaves, groups.toSeq.map { case (k, b) => (k, b.result()) }))
  }

  /** `(keptDirs, totalDirs)` the given hints leave readable in the current
    * snapshot — the observable partition-level pruning effect (file-level
    * skipping is [[pruneCounts]]), for tests and ops telemetry.
    */
  def prunePartitionCounts(spark: SparkSession, root: String, ranges: Seq[ColRange],
                           points: Seq[(String, Any)] = Nil,
                           pointsAny: Seq[(String, Seq[Any])] = Nil): (Int, Int) = {
    val snap = snapshot(spark, root)
    val dirs = snap.entries.filter(_._1.nonEmpty).groupBy(_._1)
    snap.v // a never-committed table has no snapshot to count
    val keep = dirFilter(snap, ranges, points, pointsAny)
    (dirs.count { case (d, es) => es.exists(e => keep(e._2, d)) }, dirs.size)
  }

  /** Does dir `dir` of data version `dv` survive the hints, mapped through
    * the snapshot's partition specs (current AND historical, by the dir's
    * own column name)? Dirs of data versions older than the specs describe
    * (`graft.partSpecFrom`) always survive: pruning is a correct superset.
    */
  private def dirFilter(snap: Snapshot, ranges: Seq[ColRange],
                        points: Seq[(String, Any)],
                        pointsAny: Seq[(String, Seq[Any])]): (Long, String) => Boolean = {
    val specsByPhys = snap.ddl.specs.flatMap(_.leaves).map(s => s.physName -> s).toMap
    (dv, dir) => dv < snap.ddl.layoutFrom ||
      dirSurvives(dir, specsByPhys, ranges, points, pointsAny)
  }

  /** A snapshot's file plan: the snapshot, and per data version
    * (ascending) the qualified version dir and the data files (path
    * relative to it, status) the hints keep; `counts` = (kept, total) files
    * over the versions whose sidecars the hints consulted — for an unhinted
    * plan, which consults none, every listed file, all kept.
    */
  private[graft] final case class PrunePlan(snap: Snapshot,
                                            kept: Seq[(Long, Path, Seq[(String, FileStatus)])],
                                            counts: (Int, Int)) {
    def v: Long = snap.v
    def dv: Option[Long] = snap.dv
    /** Every kept file paired with its qualified data version dir. */
    def files: Seq[(Path, FileStatus)] =
      kept.flatMap { case (_, vdir, fs) => fs.map(f => vdir -> f._2) }
  }

  /** THE enumeration of snapshot `v`'s live files — every read, metadata
    * answer and catalog scan plans through here (the Iceberg
    * `TableScan.planFiles()` shape), whatever version it pins. Lists only
    * the partition dirs that survive the hints and `restrictTo` (the
    * version dir itself only for an unpartitioned `""` entry). A listed
    * file survives when its zone maps can intersect every range AND its
    * Bloom filters might contain every conjunctive point AND, per
    * `pointsAny` entry, might contain AT LEAST ONE of the listed values —
    * the IN-list probe (the "fetch N rows by key" pattern: a file provably
    * lacking every key in the list skips). Versions without sidecars keep
    * every listed file; a historical version's sidecars live exactly as
    * long as its data dirs ([[vacuum]] reclaims both together), so pinned
    * reads skip by them too. Dirs prune by partition spec only for the
    * data versions the specs describe ([[dirFilter]]).
    * An unhinted plan opens no sidecar: it costs one listing per live dir.
    */
  private[graft] def planPrune(snap: Snapshot,
                               ranges: Seq[ColRange] = Nil, points: Seq[(String, Any)] = Nil,
                               pointsAny: Seq[(String, Seq[Any])] = Nil,
                               restrictTo: Option[Set[String]] = None): PrunePlan = {
    val (fs, rootP) = (snap.fs, snap.rootP)
    snap.v // a never-committed table has no snapshot to plan
    val entries = snap.entries
    val hinted = ranges.nonEmpty || points.nonEmpty || pointsAny.nonEmpty
    // PARTITION-DIR pruning before any file listing ([[dirFilter]]): at
    // 10k partitions a point query lists ONE dir's files instead of the
    // table's. Unmatched hints leave the dir in.
    val keepDir: (Long, String) => Boolean =
      if (!hinted) (_, _) => true else dirFilter(snap, ranges, points, pointsAny)
    var keptN = 0; var totalN = 0
    val byVersion = entries.filter(e => restrictTo.forall(_.contains(e._1)))
      .groupBy(_._2).toSeq.sortBy(_._1)
    val plan = byVersion.map { case (dv, parts) =>
      val partDirs = parts.map(_._1).distinct.filter(keepDir(dv, _))
      val vdir = fs.makeQualified(new Path(rootP, "v" + fmt(dv)))
      val relOf = relTo(fs, vdir)
      // universe = the surviving dirs' actual files, never the sidecar key
      // sets — a file missing its sidecar entry (all-NULL bloom column,
      // partial stats) defaults to KEPT, the only correct superset
      val live = (if (partDirs.contains("")) Seq(vdir) else partDirs.map(new Path(vdir, _)))
        .flatMap(listDataStatus(fs, _)).map(st => relOf(st) -> st)
      val stats = if (!hinted || live.isEmpty) None else loadStats(fs, rootP, dv)
      val blooms = if (!hinted || live.isEmpty) None else loadBlooms(fs, rootP, dv)
      if (stats.isEmpty && blooms.isEmpty) (dv, vdir, live)
      else {
        val kept = live.filter { case (rel, _) =>
          val zoneOk = stats.flatMap(_.get(rel))
            .forall(z => survives(z, ranges))
          val bloomOk = points.forall { case (c, value) =>
            blooms.flatMap(_.get(rel)).flatMap(_.get(c))
              .forall(arr => bloomMightContain(arr, value))
          }
          val anyOk = pointsAny.forall { case (c, values) =>
            blooms.flatMap(_.get(rel)).flatMap(_.get(c))
              .forall(arr => values.exists(v => bloomMightContain(arr, v)))
          }
          zoneOk && bloomOk && anyOk
        }
        keptN += kept.size; totalN += live.size
        (dv, vdir, kept.sortBy(_._1))
      }
    }
    // unhinted, nothing was consulted and every listed file is kept
    val counts = if (hinted) (keptN, totalN) else { val n = plan.map(_._3.size).sum; (n, n) }
    PrunePlan(snap, plan, counts)
  }

  /** The current snapshot with zone-map/Bloom file skipping: the
    * [[planPrune]] of the hints, scanned. The result is a SUPERSET of the
    * matching rows (zone maps prune files, not rows) — apply the exact
    * predicate on top, as with any data-skipping layer; with no hints this
    * is exactly [[read]]. Versions committed without stats read whole.
    */
  def readPruned(spark: SparkSession, root: String, schema0: StructType,
                 ranges: Seq[ColRange],
                 points: Seq[(String, Any)] = Nil,
                 pointsAny: Seq[(String, Seq[Any])] = Nil): DataFrame =
    scanFiles(spark, schema0,
      planPrune(snapshot(spark, root), ranges, points, pointsAny), withMeta = false)

  /** [[readPruned]] with the skipping hints derived from the PREDICATE
    * ITSELF: the conjunctive equality/range constraints on top-level
    * columns are extracted from the Catalyst expression tree (equalities
    * feed Bloom point probes + degenerate ranges, comparisons feed
    * one-sided zone ranges; OR branches and anything unrecognized simply
    * contribute no hint, which is always a correct superset), the pruned
    * assembly is scanned, and the FULL predicate is applied on top. The
    * write-the-filter-once UX of a DataSource pushdown without a custom
    * reader: callers never hand-maintain ColRange lists that could drift
    * from the actual filter.
    */
  def readAuto(spark: SparkSession, root: String, schema: StructType,
               predicate: org.apache.spark.sql.Column): DataFrame = {
    val (ranges, points, pointsAny) = extractHintsFor(spark, schema, predicate)
    readPruned(spark, root, schema, ranges, points, pointsAny).filter(predicate)
  }

  /** Resolve `predicate` against `schema` (a zero-row probe plan through
    * the analyzer, so DSL Columns land as typed Catalyst comparisons) and
    * extract its skipping hints. Public for telemetry/tests.
    */
  def extractHintsFor(spark: SparkSession, schema: StructType,
                      predicate: org.apache.spark.sql.Column)
      : (Seq[ColRange], Seq[(String, Any)], Seq[(String, Seq[Any])]) = {
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .filter(predicate)
    probe.queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        extractHints(f.condition) }
      .getOrElse((Nil, Nil, Nil))
  }

  /** (ranges, points, IN-list any-of probes) from the conjunctive skeleton
    * of `e` — see [[readAuto]]. Public for telemetry/tests.
    */
  def extractHints(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : (Seq[ColRange], Seq[(String, Any)], Seq[(String, Seq[Any])]) = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.types.{StringType, IntegerType, LongType,
      ShortType, ByteType, DoubleType, FloatType, TimestampType, DateType}
    // NESTED fields fold to their dotted path (r18): parquet footers key
    // column-chunk stats by exactly this dot-string and the Bloom harvest
    // selects by it, so `o.m.key > 100` prunes files the same way a
    // top-level column would. The segment name comes from the child's
    // SCHEMA (not the user-typed form) so case variance can't miss the
    // harvested path.
    def nameOf(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute => Some(u.name)
      case g: GetStructField =>
        val fieldName = g.child.dataType match {
          case st: org.apache.spark.sql.types.StructType => st(g.ordinal).name
          case _ => return None
        }
        nameOf(g.child).map(p => s"$p.$fieldName")
      case _ => None
    }
    // the analyzer wraps promoted literals in foldable Casts — fold them
    // back to literals; a Cast around the ATTRIBUTE changes the compared
    // domain, so those yield no hint
    def asLit(x: Expression): Option[Literal] = x match {
      case l: Literal => Some(l)
      case c: Cast if c.foldable => Some(Literal.create(c.eval(), c.dataType))
      case _ => None
    }
    def valOf(l: Literal): Option[Any] = l.dataType match {
      case StringType => Option(l.value).map(_.toString)
      case IntegerType | LongType | ShortType | ByteType | DoubleType |
           FloatType | TimestampType | DateType => Option(l.value)
      case _ => None
    }
    // Bloom probes replay the value through its Spark string cast — only
    // types whose String.valueOf matches that cast are safe to probe
    def pointable(l: Literal): Boolean = l.dataType match {
      case StringType | IntegerType | LongType => true
      case _ => false
    }
    e match {
      case And(l, r) =>
        val (lr, lp, la) = extractHints(l); val (rr, rp, ra) = extractHints(r)
        (lr ++ rr, lp ++ rp, la ++ ra)
      case EqualTo(a, v) if nameOf(a).isDefined && asLit(v).isDefined =>
        val c = nameOf(a).get
        val lt = asLit(v).get
        valOf(lt).map { x =>
          (Seq(ColRange(c, x, x)),
            if (pointable(lt)) Seq(c -> x) else Nil, Nil)
        }.getOrElse((Nil, Nil, Nil))
      case EqualTo(v, a) if nameOf(a).isDefined && asLit(v).isDefined =>
        extractHints(EqualTo(a, v))
      case GreaterThan(a, v) if nameOf(a).isDefined && asLit(v).isDefined =>
        (valOf(asLit(v).get).map(x => ColRange(nameOf(a).get, x, null)).toSeq, Nil, Nil)
      case GreaterThanOrEqual(a, v) if nameOf(a).isDefined && asLit(v).isDefined =>
        (valOf(asLit(v).get).map(x => ColRange(nameOf(a).get, x, null)).toSeq, Nil, Nil)
      case LessThan(a, v) if nameOf(a).isDefined && asLit(v).isDefined =>
        (valOf(asLit(v).get).map(x => ColRange(nameOf(a).get, null, x)).toSeq, Nil, Nil)
      case LessThanOrEqual(a, v) if nameOf(a).isDefined && asLit(v).isDefined =>
        (valOf(asLit(v).get).map(x => ColRange(nameOf(a).get, null, x)).toSeq, Nil, Nil)
      case GreaterThan(v, a) if nameOf(a).isDefined && asLit(v).isDefined =>
        extractHints(LessThan(a, v))
      case GreaterThanOrEqual(v, a) if nameOf(a).isDefined && asLit(v).isDefined =>
        extractHints(LessThanOrEqual(a, v))
      case LessThan(v, a) if nameOf(a).isDefined && asLit(v).isDefined =>
        extractHints(GreaterThan(a, v))
      case LessThanOrEqual(v, a) if nameOf(a).isDefined && asLit(v).isDefined =>
        extractHints(GreaterThanOrEqual(a, v))
      case EqualNullSafe(a, v) if nameOf(a).isDefined && asLit(v).isDefined
          && asLit(v).get.value != null =>
        extractHints(EqualTo(a, v))
      case In(a, vs) if nameOf(a).isDefined && vs.nonEmpty
          && vs.forall(x => asLit(x).isDefined) =>
        // IN-list → the enclosing [min, max] zone range (clustered columns)
        // PLUS an any-of Bloom probe (unclustered high-cardinality keys —
        // a file provably lacking every listed key skips), bounded at 64
        // values so probe cost stays trivial per file; the exact
        // membership test runs on top either way.
        val c = nameOf(a).get
        val lits = vs.map(x => asLit(x).get)
        val vals = lits.flatMap(valOf)
        val anyProbe =
          if (vals.size == vs.size && vs.size <= 64 && lits.forall(pointable))
            Seq(c -> vals)
          else Nil
        if (vals.size != vs.size) (Nil, Nil, Nil)
        else vals.head match {
          case _: String =>
            val ss = vals.map(_.asInstanceOf[String])
            (Seq(ColRange(c, ss.min, ss.max)), Nil, anyProbe)
          case _: Number =>
            val ds = vals.map(_.asInstanceOf[Number].doubleValue())
            (Seq(ColRange(c, vals(ds.indexOf(ds.min)),
              vals(ds.indexOf(ds.max)))), Nil, anyProbe)
          case _ => (Nil, Nil, anyProbe)
        }
      case _ => (Nil, Nil, Nil) // OR / functions: no hint, correct superset
    }
  }

  /** Keys whose rows were REMOVED or SUPERSEDED since `fromV` — the
    * derived-artifact maintenance feed (VERDICT r16 #5): a disk ANN index
    * (or any secondary structure) built at corpus version `fromV` must
    * stop serving rows a later `deleteWhere`/SQL DELETE masked, and rows a
    * later merge REWROTE are stale in the index too (their encoded form no
    * longer matches), so both `delete` and `update_preimage` rows of the
    * net [[changes]] feed count. O(changed partitions) I/O, and the result
    * is deleted+updated-rows-sized — broadcast it against the index scan
    * (`left_anti`) at query time, or feed it to a reindex job. Empty when
    * nothing changed.
    */
  def deletedKeysSince(spark: SparkSession, root: String, schema: StructType,
                       keys: Seq[String], fromV: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cur = snapshot(spark, root).v
    if (cur <= fromV)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(keys.map(k => schema(k))))
    else changes(spark, root, schema, keys, fromV, cur)
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .select(keys.map(col): _*).distinct()
  }

  /** CHANGE DATA FEED between two committed manifests — the incremental-
    * consumer contract: the NET row-level difference between the `fromV`
    * and `toV` snapshots, tagged `insert` / `delete` / `update_preimage` /
    * `update_postimage`, with I/O proportional to the CHANGED partitions,
    * never the table. NET means intermediate commits collapse (a key
    * inserted then deleted inside the range emits nothing; three updates
    * emit one pre/post pair) — snapshot-diff semantics, not Delta CDF's
    * per-commit event log (ADVICE r12); a consumer that needs every
    * intermediate event iterates adjacent `(v, v+1)` pairs, as the CdcSpec
    * chain test does. The manifest already records
    * which partition dirs moved to a new data version; partitions whose
    * deletion-vector masking changed come from comparing the two endpoint
    * DVs' bitmaps file by file on the driver — no Spark job.
    * Untouched partitions are never opened — at 100 TB a merge commit that
    * rewrote 3 of 10k partitions feeds downstream consumers by scanning
    * exactly those 3 on both sides.
    *
    * `keys` must be unique per snapshot (the table's merge key — the same
    * [[graft.ops.Upsert]] contract; COMPOSITE keys join as one struct, the
    * lineitem `(l_orderkey, l_linenumber)` shape); change classification
    * compares a NULL-framed md5 fingerprint of the full row, so any
    * payload width diffs through one co-partitioned full-outer join. A
    * content-identical rewrite (e.g. [[compact]]) yields an empty feed.
    */
  def changes(spark: SparkSession, root: String, schema: StructType,
              keys: Seq[String], fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "changes: at least one key column is required")
    require(fromV <= toV, s"changes: fromV=$fromV must be <= toV=$toV")
    val (fs, rootP) = fsOf(spark, root)
    val listed = listRoot(fs, rootP)
    Seq(fromV, toV).foreach { v =>
      if (!listed.versions.contains(v))
        throw new IllegalStateException(
          s"manifest table $root has no version $v on disk (vacuumed or never committed)")
    }
    // BRANCH lineage guard (r20, VERDICT r19 #3): on a branched table the
    // numeric sequence interleaves lineages, so a (fromV, toV) window is a
    // meaningful net diff ONLY when fromV is an ANCESTOR of toV — walk
    // toV's `#parent` chain (manifests from the pre-branch prefix carry no
    // directive: the linear parent = v-1). Valid consumers pass without
    // noticing: a streaming source's offsets are consecutive HEADS of one
    // ref, and `fastForward` admits only ancestor jumps, so (prev head,
    // new head) always chains — foreign-branch versions in between are
    // never consulted (the diff reads only the two endpoint snapshots). A
    // replicator that walks RAW numbers across a foreign branch's commits
    // fails HERE, loudly, instead of silently diffing two unrelated
    // snapshots (branch rows reported deleted, main rows inserted).
    if (listed.hasRefs && fromV < toV) {
      var v = toV
      try {
        while (v > fromV)
          v = manifestAt(fs, rootP, v).directive("parent")
            .flatMap(_.toLongOption).getOrElse(v - 1)
      } catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"changes: cannot prove version $fromV is an ancestor of $toV on $root — " +
            "an intermediate manifest on the lineage walk was vacuumed; re-seed the " +
            "consumer from a full snapshot", e)
      }
      if (v != fromV) throw new IllegalStateException(
        s"changes: version $fromV is not an ancestor of $toV on $root — the table " +
          "is branched and the requested window crosses lineages (branch commits " +
          "interleave version numbers with main's). Consume the feed along ONE " +
          "lineage — the head sequence a streaming source observes stays valid " +
          "across fast_forward — or re-seed the consumer from a full snapshot.")
    }
    val Seq(sF, sT) = Seq(fromV, toV).map(v => snapshot(spark, root, listed, Some(v)))
    val eF = entrySetsOf(sF.entries); val eT = entrySetsOf(sT.entries)
    val affected = (eF.keySet ++ eT.keySet).filter(p => eF.get(p) != eT.get(p)) ++
      dvDeltaDirs(spark, root, sF.dv, sT.dv)
    val cdfSchema = StructType(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType) +: schema.fields)
    if (affected.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cdfSchema)
    val fields = schema.fieldNames.toSeq
    def side(snap: Snapshot, tag: String): DataFrame = {
      val df = scanFiles(spark, schema,
        planPrune(snap, restrictTo = Some(affected)), withMeta = false)
      df.select(struct(keys.map(col): _*).as("__k"),
        struct(fields.map(col): _*).as(s"__$tag"),
        graft.ops.Diff.rowFingerprint(fields.map(col)).as(s"__${tag}fp"))
    }
    val j = side(sF, "o").join(side(sT, "n"), Seq("__k"), "full_outer")
    val ct = when(col("__ofp").isNull, array(lit("insert")))
      .when(col("__nfp").isNull, array(lit("delete")))
      .when(col("__ofp") =!= col("__nfp"),
        array(lit("update_preimage"), lit("update_postimage")))
      .otherwise(array().cast("array<string>"))
    j.select(explode(ct).as("_change_type"), col("__o"), col("__n"))
      .select(col("_change_type") +: fields.map(f =>
        when(col("_change_type").isin("insert", "update_postimage"),
          col("__n").getField(f)).otherwise(col("__o").getField(f)).as(f)): _*)
  }

  /** DELETE ... WHERE as MERGE-ON-READ — the deletion-vector mechanism
    * (Delta DVs / Iceberg positional deletes): no data file is rewritten;
    * the matching rows' (file, row-index) positions are OR-ed into the
    * base DV's per-file row bitmaps, written as one file in `d<version>/`,
    * and the next manifest points at it with a `#dv` directive. Readers
    * filter the masked positions out during [[read]]/[[readPruned]]
    * assembly, so the delete is visible atomically at the manifest rename while costing
    * O(matching rows) write I/O — at 100 TB, deleting one user's rows
    * rewrites kilobytes, not the terabyte-scale files holding them. The
    * position scan reads the [[planPrune]] of the predicate's own hints
    * ([[extractHintsFor]], as [[readAuto]] does) with the exact predicate on
    * top, so a key-range delete lists and reads only the dirs and files
    * that can hold the range (SQL `DELETE FROM` reaches this through the
    * catalog's metadata-only delete).
    *
    * Deletes are LOGICAL until the next [[compact]]/[[compactZOrder]]
    * (which reads the DV-masked snapshot and commits a clean rewrite with
    * no `#dv`) — the physical-purge step a GDPR erasure pipeline schedules
    * after the logical delete; [[vacuum]] then reclaims the bytes.
    * Time travel honors versioning: a pre-delete manifest reads the rows,
    * the post-delete manifest doesn't. Partitioned merge commits carry the
    * DV forward (untouched partitions keep their deletes; rewritten
    * partitions' stale DV entries reference files no longer scanned, so
    * they are inert until the next rewrite drops them).
    *
    * Returns the committed manifest version. Single-writer, like every
    * mutation on this table.
    */
  def deleteWhere(spark: SparkSession, root: String, schema: StructType,
                  predicate: org.apache.spark.sql.Column): Long =
    deleteWhere(spark, snapshot(spark, root), schema, predicate)

  /** [[deleteWhere]] against a snapshot the caller resolved. */
  def deleteWhere(spark: SparkSession, snap: Snapshot, schema: StructType,
                  predicate: org.apache.spark.sql.Column): Long = {
    val (ranges, points, pointsAny) = extractHintsFor(spark, schema, predicate)
    val plan = planPrune(snap, ranges, points, pointsAny)
    // STAGE the DV and claim at publish like every other commit: writing
    // d<next> directly would occupy the number while the positions are
    // collected, and a concurrent claimed committer would reclaim-or-corrupt
    // it (the d-dir is unverifiable without the claim protocol). The data
    // stage is an empty claim vehicle — the committed v-dir holds no files
    // and no entry references it.
    val dvStage = stageDv(spark, snap.root, plan.dv, collectDv(
      scanFiles(spark, schema, plan, withMeta = true).filter(predicate)))
    publishStaged(spark, snap.root, stageData(spark, snap, None, None, Nil, Nil).dir,
      snap, Nil, Nil, Nil, CommitShape.Delete, Some(dvStage))
  }

  /** Commit `df` as the next version. `spec = Some(s)`: `df` must hold
    * the FULL content of every partition it touches (the
    * [[graft.ops.Upsert.mergePartitionPruned]] output contract) — untouched
    * partitions carry forward from the previous manifest untouched on disk.
    * `None`: `df` is a whole-table snapshot. Returns the committed version.
    * A hidden-transform spec derives the physical partition column on the
    * fly ([[PartSpec.derive]]), so data files carry exactly the declared
    * schema while directories carry the transformed value.
    *
    * The data is written under a unique `.stage-*` dir and claimed into its
    * version number only at publish time ([[publishStaged]]), so writers
    * never contend on data I/O; a crashed attempt leaves an orphan stage or
    * an unpublished claimed dir, both reclaimed (by [[vacuum]] and the next
    * writer's claim pass respectively) — the replay converges because a
    * version only becomes visible at the manifest publish.
    *
    * CONCURRENCY: carry-forward partitioned merge commits retry
    * optimistically on collision — writers touching DISJOINT partitions all
    * land in either order; overlapping writers raise `commit conflict`
    * (re-run the merge on the current snapshot). Snapshot commits
    * (`spec = None` or `carryForward = false`) never commute and fail
    * loudly on any collision.
    *
    * `carryForward = false` publishes a manifest referencing ONLY this
    * version's partitions (a full-snapshot rewrite — the [[compact]]
    * contract) instead of merging untouched entries from the previous
    * manifest. A carry-forward commit on a MIXED layout (partition
    * evolution left dirs under an older spec's column name) is refused: its
    * supersede-by-name contract cannot retire the other spec's entries for
    * the same rows — compact (full snapshot rewrite under the current spec)
    * first, or write through [[append]]/[[mergeDv]], which stay correct
    * under any mix.
    *
    * `statsCols`: columns to zone-map for [[readPruned]] file skipping —
    * harvested from the freshly-written parquet footers (O(files) footer
    * reads, no data re-scan) and published as a `_stats` sidecar BEFORE
    * the manifest rename, so stats are complete for every visible version.
    *
    * `bloomCols`: columns to Bloom-index per file for point-lookup
    * skipping — one scan of the JUST-written version (O(commit) I/O),
    * published as a `_bloom` sidecar under the same ordering guarantee.
    * Both add to the columns the table declares ([[stageData]]).
    */
  def commit(df: DataFrame, root: String, spec: Option[PartSpec],
             carryForward: Boolean = true,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil): Long =
    commit(df, snapshot(df.sparkSession, root), spec, carryForward, statsCols, bloomCols)

  /** [[commit]] against a snapshot the caller resolved: its base. */
  def commit(df: DataFrame, snap: Snapshot, spec: Option[PartSpec], carryForward: Boolean,
             statsCols: Seq[String], bloomCols: Seq[String]): Long = {
    val spark = df.sparkSession
    val st = stageData(spark, snap, Some(df), spec, statsCols, bloomCols)
    // carry-forward merge commits keep the previous entries AND the previous
    // deletion vector (untouched partitions must keep their deleted rows
    // masked); snapshot/compact commits (carryForward=false or spec=None)
    // replace the table wholesale, so the DV pointer drops with the entries.
    // A touched partition's rewrite supersedes all its previous entries.
    val rewrite = spec.isDefined && carryForward
    if (rewrite && mixedLayout(snap, spec.get))
      throw new IllegalStateException(
        s"carry-forward commit on ${snap.root}: the table holds partitions under an " +
          s"older partition spec than ${spec.get.render} (partition evolution) — " +
          "a partition rewrite cannot supersede the other layout's entries for " +
          "the same rows; compact the table (full rewrite under the current " +
          "spec) or write through append/mergeDv")
    publishStaged(spark, snap.root, st.dir, snap, st.touched, st.stats, st.blooms,
      if (rewrite) CommitShape.Rewrite else CommitShape.Snapshot, ndv = st.ndv)
  }

  /** Whether the committer-v2 stage write is safe under `conf`. v2's task
    * commit renames straight into the stage dir and is not atomic per task:
    * with `spark.speculation` on, a killed duplicate attempt's orphan part
    * files could survive inside a stage that later publishes, so every
    * manifest-table write refuses a speculative context.
    */
  private[graft] def stageWriteSafe(conf: org.apache.spark.SparkConf): Boolean =
    !conf.getBoolean("spark.speculation", false)

  /** Stage `df` partitioned per `spec` (deriving the physical column when
    * the spec is a hidden transform — partitionBy keeps it OUT of the data
    * files) or unpartitioned.
    */
  private def stageWrite(df: DataFrame, spec: Option[PartSpec], stage: Path,
                         snap: Snapshot): Unit = {
    if (!stageWriteSafe(df.sparkSession.sparkContext.getConf))
      throw new IllegalStateException(
        s"manifest-table write to ${snap.root} refused: spark.speculation is on, and a " +
          "speculative duplicate task can leave orphan files in a committer-v2 " +
          "stage that later publishes; run manifest-table writes with " +
          "spark.speculation=false")
    val (out, parts) = spec match {
      case Some(s) =>
        val derived = s.derive(df)
        // OPTIMIZED WRITE (Delta's optimizedWrite, default ON): cluster the
        // staged rows by the partition tuple so each dir gets ONE file per
        // commit, not one per (task × dir) — a composite spec's dir product
        // times the input parallelism would write thousands of tiny files.
        // `graft.optimizeWrite=false` opts a table out (for partition-sized
        // commits). The bucket count is pinned to defaultParallelism (r22):
        // `repartition(cols)` alone lets AQE coalesce a small commit's write
        // to ONE task that pays every dir's per-file cost serially.
        (if (!preShuffled.get() && snap.ddl.optimizeWrite)
          derived.repartition(math.max(1, df.sparkSession.sparkContext.defaultParallelism),
            s.physNames.map(org.apache.spark.sql.functions.col): _*)
        else derived, s.physNames)
      case None => (df, Nil)
    }
    // committer algorithm v2 (task commit renames straight into the
    // destination, r21): a STAGE dir is single-writer and invisible until
    // publishStaged's atomic manifest rename, so v1's second job-level
    // rename bought nothing; a failed stage is discarded wholesale, and
    // speculation is refused above. No `_SUCCESS` file: the manifest is
    // the commit record.
    out.write.partitionBy(parts: _*)
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .mode("overwrite").parquet(stage.toString)
  }

  // compaction paths choose their own clustering (hash buckets, byte-sized
  // ranges, Z-order) — the optimized-write repartition would destroy it
  private val preShuffled = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private def withPreShuffled[T](f: => T): T = {
    val prev = preShuffled.get(); preShuffled.set(true)
    try f finally preShuffled.set(prev)
  }

  /** Relative partition dir paths under a freshly staged write — one
    * `col=value` hive segment per spec field, nested in declaration order
    * (`ts_day=19723/user_id_bucket=3` for a composite spec). These are the
    * manifest ENTRY names; depth always equals the spec's field count for
    * a write staged under that spec.
    */
  private def listStagedPartDirs(fs: FileSystem, stage: Path, depth: Int): Seq[String] =
    fs.listStatus(stage).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .flatMap { st =>
        if (depth <= 1) Seq(st.getPath.getName)
        else listStagedPartDirs(fs, st.getPath, depth - 1).map(st.getPath.getName + "/" + _)
      }

  /** A staged data write: its `.stage-*` dir, the partition entry names it
    * touched, its sidecar payloads and the tap its write read through.
    */
  private final case class Staged(dir: Path, touched: Seq[String],
                                  stats: Seq[(String, String, ColZone)],
                                  blooms: Seq[(String, String, Array[Long])],
                                  ndv: Seq[(String, String, Array[Long])],
                                  tap: Option[KeyProbe.Tap] = None)

  /** The one staging step of every data commit, under the write contract
    * its snapshot declares: attach the table's field ids (id-carrying
    * tables write EVERY data file id-annotated, whatever path produced the
    * frame — one id-less file would fail later by-id reads), write `df`
    * under a fresh `.stage-*` dir ([[stageWrite]]), list the partition dirs
    * it touched and harvest its sidecars for the caller's `statsCols` and
    * `bloomCols` together with the table's declared ones. Sidecars harvest
    * from the STAGE (rel paths are version-agnostic) and are dropped next
    * to whatever number the claim lands on. `df = None` stages an empty
    * claim vehicle: no entry, no sidecar. `tapKeys = Some(ks)` writes
    * through a [[KeyProbe.tap]] that counts the rows and gathers their `ks`
    * tuples in the same job.
    */
  private def stageData(spark: SparkSession, snap: Snapshot, df: Option[DataFrame],
                        spec: Option[PartSpec], statsCols: Seq[String],
                        bloomCols: Seq[String], tapKeys: Option[Seq[String]] = None): Staged = {
    val fs = snap.fs
    val dir = new Path(snap.rootP, ".stage-" + java.util.UUID.randomUUID().toString.take(12))
    df match {
      case None =>
        fs.mkdirs(dir)
        Staged(dir, Nil, Nil, Nil, Nil)
      case Some(d0) =>
        val tap = tapKeys.map(KeyProbe.tap(d0, _))
        val d = FieldIds.attachDf(tap.fold(d0)(_.frame), fieldIdsForWrite(spark, snap))
        stageWrite(d, spec, dir, snap)
        val touched = spec.fold(Seq(""))(s => listStagedPartDirs(fs, dir, s.physNames.length))
        val zoned = (statsCols ++ snap.ddl.statsCols).distinct
        val bloomed = (bloomCols ++ snap.ddl.bloomCols).distinct
        val stats = if (zoned.nonEmpty) harvestStats(fs, dir, zoned) else Nil
        val (blooms, ndv) =
          if (bloomed.nonEmpty) harvestBloomsAndNdv(spark, fs, dir, bloomed, Some(d.schema))
          else (Nil, Nil)
        Staged(dir, touched, stats, blooms, ndv, tap)
    }
  }

  /** Does the entry set hold partition dirs written under a DIFFERENT
    * layout than `spec`'s — i.e. has partition evolution left a mixed
    * layout that name-keyed partition reasoning cannot cover? The EMPTY
    * entry name (an unpartitioned-era commit) is a foreign layout too: a
    * matched key's old row can live there, invisible to any dir-name
    * restriction (ADVICE r18 — the old `p.nonEmpty` guard let mergeDv keep
    * its touched-partition fast path and leave stale rows unmasked after
    * set_partitioning evolved an unpartitioned table), and so is a data
    * version older than the specs describe (`graft.partSpecFrom`).
    */
  private def mixedLayout(snap: Snapshot, spec: PartSpec): Boolean =
    snap.entries.exists { case (p, dv) => dv < snap.ddl.layoutFrom || !spec.matchesLayout(p) }

  /** INSERT-only commit: `df`'s rows land as a fresh data version ADDED
    * alongside every touched partition's existing entries — no read, no
    * rewrite, bytes written = O(batch). A blind append references no base
    * state, so it commutes with ANY concurrent commit (the Delta
    * blind-append rule): collisions always rebase-and-retry, never
    * conflict. The caller owns key uniqueness (appending an existing key
    * duplicates it — use [[mergeDv]] for upserts). Blind appends stay
    * correct under a MIXED layout (partition evolution): every appended
    * entry is new, nothing is superseded by name. An append of no row to
    * an existing table publishes nothing and returns the current version.
    */
  def append(df: DataFrame, root: String, spec: Option[PartSpec],
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil): Long =
    append(df, snapshot(df.sparkSession, root), spec, statsCols, bloomCols)

  /** [[append]] against a snapshot the caller resolved: its base. */
  def append(df: DataFrame, snap: Snapshot, spec: Option[PartSpec],
             statsCols: Seq[String], bloomCols: Seq[String]): Long = {
    val st = stageData(df.sparkSession, snap, Some(df), spec, statsCols, bloomCols,
      snap.version.map(_ => Nil))
    if (st.tap.exists(_.count() == 0)) { snap.fs.delete(st.dir, true); return snap.v }
    publishStaged(df.sparkSession, snap.root, st.dir, snap, st.touched,
      st.stats, st.blooms, CommitShape.Append, ndv = st.ndv)
  }

  /** Fold the CURRENT snapshot of a single-writer STAGING table into
    * `dstRoot` as ONE snapshot commit, MOVING its data dir and
    * re-publishing its skipping sidecars — zero data rewrite, so an atomic
    * REPLACE TABLE AS SELECT costs O(new data) write bytes, not 2×
    * ([[GraftCatalog]]'s stageReplace commit step). The staging table must
    * hold exactly one data version and no deletion vector (a CTAS write
    * commits exactly once). Fails loudly on a commit collision like every
    * snapshot commit (a whole-table replace never commutes); `dstRoot`'s
    * previous versions stay on disk for time travel until vacuumed.
    */
  def adoptSnapshot(spark: SparkSession, srcRoot: String, dstRoot: String): Long = {
    val src = snapshot(spark, srcRoot)
    val (fs, srcP) = (src.fs, src.rootP)
    if (src.version.isEmpty) throw new IllegalStateException(
      s"adoptSnapshot: staging table $srcRoot never committed")
    val entries = src.entries
    require(src.dv.isEmpty,
      s"adoptSnapshot: staging table $srcRoot carries a deletion vector")
    val dataV = entries.map(_._2).distinct match {
      case Seq(d) => d
      case ds => throw new IllegalStateException(
        s"adoptSnapshot: staging table $srcRoot holds ${ds.size} data versions (expected 1)")
    }
    val stats = loadStats(fs, srcP, dataV).getOrElse(Map.empty).toSeq.flatMap {
      case (rel, cols) => cols.toSeq.map { case (c, z) => (rel, c, z) } }
    val blooms = loadBlooms(fs, srcP, dataV).getOrElse(Map.empty).toSeq.flatMap {
      case (rel, cols) => cols.toSeq.map { case (c, a) => (rel, c, a) } }
    val ndv = loadNdv(fs, srcP, dataV).getOrElse(Map.empty).toSeq.flatMap {
      case (rel, cols) => cols.toSeq.map { case (c, a) => (rel, c, a) } }
    val dst = snapshot(spark, dstRoot)
    fs.mkdirs(dst.rootP)
    val stage = new Path(dst.rootP,
      ".stage-" + java.util.UUID.randomUUID().toString.take(12))
    require(fs.rename(new Path(srcP, "v" + fmt(dataV)), stage),
      s"adoptSnapshot: moving staged data into $dstRoot failed")
    publishStaged(spark, dstRoot, stage, dst, entries.map(_._1).distinct,
      stats, blooms, CommitShape.Snapshot, ndv = ndv)
  }

  /** Schema of snapshot `snap`, inferred from the
    * live data versions' parquet footers (merged across versions, so an
    * additively-evolved table reports the union) plus the hive-style
    * partition column — the schema-less front-door load path
    * ([[GraftSource]]). ONE footer per data version, read on the driver:
    * a version's files come from one staged write of one frame
    * ([[stageData]]; [[adoptSnapshot]] moves such a version), so they share a schema.
    */
  def inferSchema(spark: SparkSession, snap: Snapshot): StructType = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    val plan = planPrune(snap)
    require(plan.kept.nonEmpty, s"manifest table ${snap.root} version ${plan.v} holds no partitions")
    val conf = snap.fs.getConf
    ManifestScan.inferSchema(spark, plan.files,
      parMapOrdered(plan.kept.flatMap(_._3.headOption)) { case (_, st) =>
        new org.apache.parquet.hadoop.Footer(st.getPath, org.apache.spark.sql.execution
          .datasources.parquet.ParquetFooterReader.readFooter(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS))
      })
  }

  /** MERGE with O(changed rows) write amplification — the merge-on-read
    * composition of [[deleteWhere]] + append (Delta/Iceberg DV-backed
    * UPDATE): the batch lands as a fresh data version ALONGSIDE each touched
    * partition's entries, and the rows its keys match join the deletion
    * vector, in one atomic commit. Bytes written = O(batch rows +
    * accumulated deletes): the DV's bitmap file is rewritten whole until
    * [[compact]] drops it, where the copy-on-write alternative
    * ([[graft.ops.Upsert.mergePartitionPruned]] + [[commit]]) rewrites every
    * touched partition. TWO jobs: the stage write, which gathers the
    * batch's keys as it lands them, and ONE positions scan filtered by that
    * key set ([[KeyProbe.semiJoin]]: a `left_semi` join's matches, with no
    * build job), its bitmaps OR-ed into the base DV on the driver. A merge
    * that lands no row and has no delete leg publishes nothing and returns
    * the current version.
    *
    * Contracts: `batch` is unique per `keys` (compose with
    * [[graft.ops.Upsert.lastWins]]; COMPOSITE keys match as one tuple); with
    * `spec`, partition values are immutable per key, so the positions scan
    * reads only the touched partitions — except under a MIXED layout
    * ([[mixedLayout]]), where a matched key's old row may live in a dir the
    * batch's dir names cannot address: the scan reads the full snapshot and
    * drops the `deletePartitions` hint. Compact to restore the fast path.
    * CONCURRENCY: the batch and DV stage under `.stage-*` and claim their
    * numbers only at publish ([[publishStaged]]). A colliding mergeDv
    * rebase-retries ONLY past winners that changed no existing file and
    * left the DV untouched (blind [[append]]s); any other winner fails it
    * loudly: re-run the merge, or route merge writers through one driver.
    *
    * `deleteKeys` (WHEN MATCHED DELETE) masks its keys' rows with no append;
    * `deletePartitions = Some(dirs)` restricts that leg's scan to the named
    * hive-style dirs (the [[replicate]] path: CDF delete rows carry their
    * partition value). Both are read after the batch is staged, so a caller
    * may hand over a leg its own write gathered; `deleteKeys` is collected
    * on the driver, which runs no job for a local frame.
    *
    * Read cost grows with accumulated appends: schedule [[compact]] (Delta's
    * merge-on-read + OPTIMIZE pairing). Returns the committed version.
    */
  def mergeDv(batch: DataFrame, root: String, schema: StructType,
              keys: Seq[String], spec: Option[PartSpec],
              statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
              deleteKeys: => Option[DataFrame] = None,
              deletePartitions: => Option[Seq[String]] = None): Long =
    mergeDv(batch, snapshot(batch.sparkSession, root), schema, keys, spec, statsCols, bloomCols,
      deleteKeys, deletePartitions)

  /** [[mergeDv]] against a snapshot the caller resolved: its base. */
  def mergeDv(batch: DataFrame, snap: Snapshot, schema: StructType,
              keys: Seq[String], spec: Option[PartSpec],
              statsCols: Seq[String], bloomCols: Seq[String],
              deleteKeys: => Option[DataFrame],
              deletePartitions: => Option[Seq[String]]): Long = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "mergeDv: at least one key column is required")
    val spark = batch.sparkSession
    val cur = snap.version.getOrElse(throw new IllegalStateException(
      s"mergeDv: ${snap.root} has no committed version — create the table with commit() first"))
    val st = stageData(spark, snap, Some(batch), spec, statsCols, bloomCols, Some(keys))
    val (dels, delParts) = (deleteKeys, deletePartitions)
    if (st.tap.get.count() == 0 && dels.isEmpty) { snap.fs.delete(st.dir, true); return cur }
    val mixed = spec.exists(mixedLayout(snap, _))
    // DV delta = positions of the upsert keys ∪ the delete leg's keys, from
    // the touched partitions ∪ `deletePartitions`; deleted keys may live
    // anywhere, so a delete leg without that hint scans the full snapshot
    val keySet = dels.fold(st.tap.get.picked())(d =>
      st.tap.get.picked().unionByName(d.select(keys.map(col): _*)))
    val deleteRestrict = dels.fold(Option(Seq.empty[String]))(_ => delParts)
    val restrict =
      if (mixed) None else for (_ <- spec; d <- deleteRestrict) yield st.touched.toSet ++ d
    val dvStage = stageDv(spark, snap.root, snap.dv, KeyProbe.semiJoin(
      scanFiles(spark, schema, planPrune(snap, restrictTo = restrict),
        withMeta = true), keySet, keys).fold(Map.empty: Dv)(collectDv))
    // the base DV this commit's union consumed rides the snapshot — the
    // rebase conflict check compares the winner's DV pointer against it
    // (the manifest's own #dv comes from dvStage, not the carry)
    publishStaged(spark, snap.root, st.dir, snap, st.touched,
      st.stats, st.blooms, CommitShape.Merge, Some(dvStage), st.ndv)
  }

  /** [[mergeDv]] with the deleted POSITIONS handed in directly instead of
    * computed from keys — the commit primitive under SQL row-level DML
    * ([[GraftCatalog]]): Spark's MERGE/UPDATE/DELETE rewrite has already
    * joined the target scan and produced exactly the `(__f, __pos)` rowIds
    * to mask and the rows to land, so re-deriving positions from keys would
    * be a second scan; its writer tasks hand them back as per-file bitmaps.
    * `batch = None` is a pure positional delete (the [[deleteWhere]]
    * shape); `deletes = None` is an INSERT-ONLY commit (e.g. a MERGE whose
    * every source row was not-matched) — it stages no DV at all and carries
    * the base version's DV pointer forward unchanged, so insert-only DML
    * stays a pure append commit: zero O(accumulated-deletes) rewrite bytes,
    * and a DV-free table stays DV-free (keeping [[colBounds]] aggregate
    * pushdown alive). Positions must come from a [[readWithMeta]] scan of
    * the `base` snapshot (same path normalization as the DV).
    *
    * Bytes written = O(batch rows + positions); concurrency follows
    * [[mergeDv]] in EVERY shape (insert-only included — its not-matched
    * set was computed against the base snapshot): the staged commit
    * rebases past blind appends only, any winner that rewrote data or
    * changed the DV conflicts loudly. The SQL write path skips the publish
    * entirely when the DML matched nothing (no staged files), so a no-op
    * MERGE never burns a version number. Row-level DML stays correct under
    * MIXED layouts with no fallback needed: the positions were produced by
    * Spark's own rewrite over the FULL pinned snapshot (never
    * partition-restricted), and the insert leg is a blind append under the
    * current spec.
    */
  private[graft] def commitDelta(spark: SparkSession, base: Snapshot,
                                 batch: Option[DataFrame], deletes: Option[Dv],
                                 spec: Option[PartSpec]): Long = {
    val st = stageData(spark, base, batch, spec, Nil, Nil)
    val dvStage = deletes.map(stageDv(spark, base.root, base.dv, _))
    publishStaged(spark, base.root, st.dir, base, st.touched,
      st.stats, st.blooms, CommitShape.Merge, dvStage, st.ndv)
  }

  /** Incrementally replicate `srcRoot`'s committed changes into a replica
    * table — the cross-system sync the reference's Mongo→BigQuery loop IS
    * (reference: src/process_insert_update_weather_data.py:166-187),
    * restated over the change feed and applied through the change-feed
    * [[org.apache.spark.sql.graft.GraftStreamSink]] (`cdf = true`), the
    * one keyed-apply path for change batches. A fresh replica is seeded as
    * one batch: the source's current snapshot as all-`insert` rows (the
    * shape [[org.apache.spark.sql.graft.GraftChangeFeedSource]] emits for
    * its first batch), with the source version as its batch id. Each
    * unapplied source version `v` then becomes one sink batch with id `v`
    * — [[changes]] since the last applied version, inserts + update
    * postimages upserting and deletes deleting in ONE [[mergeDv]] commit —
    * so replication cost is O(changed rows) per version, never O(table).
    *
    * Progress is the sink's record — the `#batch` directive that rides
    * each commit's manifest ∪ the `_sink.batch.N` marker — so it is
    * EXACTLY-ONCE: a commit and its progress land in one atomic rename,
    * and the marker survives a compaction or vacuum of the replica. A
    * target that exists without that record is refused as "not a
    * replica". Run at a cadence inside the source's vacuum retention
    * window, the standard CDC-consumer contract ([[changes]] needs both
    * manifests on disk). Returns the number of source versions applied.
    */
  def replicate(spark: SparkSession, srcRoot: String, dstRoot: String,
                schema: StructType, keys: Seq[String],
                partCol: Option[String]): Int = {
    import org.apache.spark.sql.functions.{col, lit}
    val sink = new org.apache.spark.sql.graft.GraftStreamSink(spark.sqlContext,
      dstRoot, partCol, keys, cdf = true)
    var from = sink.lastCommitted()
    var seeded = 0
    if (from < 0) {
      require(!exists(spark, dstRoot),
        s"replicate: $dstRoot exists but carries no sink batch record — not a replica of $srcRoot")
      val cur = currentVersion(spark, srcRoot).getOrElse(
        throw new IllegalStateException(s"replicate: source $srcRoot has no committed version"))
      sink.addBatch(cur, read(spark, srcRoot, schema, Some(cur))
        .select(lit("insert").as("_change_type") +: schema.fieldNames.toSeq.map(col): _*))
      from = cur
      seeded = 1
    }
    val pending = versions(spark, srcRoot).filter(_ > from)
    pending.foreach { v =>
      sink.addBatch(v, changes(spark, srcRoot, schema, keys, from, v))
      from = v
    }
    seeded + pending.size
  }

  /** OPTIMIZE — small-file compaction: rewrite snapshot `snap` (the
    * caller's resolved head, the base its commit validates against) into a
    * fresh version with bounded file counts (`filesPerPartition` files per
    * partition dir; for a non-partitioned table, that many files total) and
    * commit it atomically. Rows are identical before and after; readers
    * flip at the manifest rename, the fragmented versions stay readable
    * until [[vacuum]]. The compacted manifest references ONLY the new
    * version (`carryForward = false`), so compact-then-vacuum reclaims
    * every old dir — the bounded-retention pair for a long-lived CDC
    * target whose per-batch merge commits accrete small files.
    *
    * Scale: one scan of live data, one shuffle keyed on the partition
    * column (plus a row-hash salt when `filesPerPartition > 1` — hot
    * partitions spread over that many writers), one write. Run out-of-band
    * at a cadence set by the small-file rate, like any OPTIMIZE; the
    * single-writer contract covers it like every other commit.
    *
    * This is also the verb that ENDS a mixed layout after partition
    * evolution: the full snapshot rewrite re-derives every row's partition
    * under the CURRENT `spec`, after which the carry-forward fast paths
    * reopen.
    */
  def compact(spark: SparkSession, snap: Snapshot, schema: StructType,
              spec: Option[PartSpec], filesPerPartition: Int = 1,
              statsCols: Seq[String] = Nil): Long = {
    require(filesPerPartition >= 1, s"filesPerPartition=$filesPerPartition")
    import org.apache.spark.sql.functions._
    val df0 = read(spark, snap, schema)
    val df = spec.fold(df0)(_.derive(df0))
    // bucket count pinned (r22, as in stageWrite): an un-numbered
    // repartition lets AQE coalesce the rewrite to ONE task on a small
    // snapshot, serializing every partition dir's per-file write cost
    val par = math.max(1, spark.sparkContext.defaultParallelism)
    val out = spec match {
      case Some(s) if filesPerPartition == 1 =>
        df.repartition(par, s.physNames.map(col): _*)
      case Some(s) => df.repartition(par, (s.physNames.map(col) :+
        pmod(xxhash64(schema.fieldNames.filterNot(s.physNames.contains)
          .map(col).toSeq: _*), lit(filesPerPartition.toLong))): _*)
      case None => df.repartition(filesPerPartition)
    }
    // drop the pre-derived hidden column before the commit (which re-derives
    // for the staged write): the staging id-attach treats any non-schema
    // column as drift, and a select keeps the repartitioning
    withPreShuffled(commit(out.select(schema.fieldNames.map(col).toSeq: _*),
      snap, spec, carryForward = false, statsCols, Nil))
  }

  /** OPTIMIZE to a TARGET FILE SIZE — the knob operators actually tune
    * (a files-per-partition count is meaningless when partition sizes are
    * skewed 1000×): rewrite the snapshot into range-partitioned shuffle
    * tasks sized so each emits ~`targetBytes` of compressed output.
    * Task count = ceil(live on-disk bytes / targetBytes) — the live-bytes
    * estimate comes from the manifest listing (driver metadata, no I/O),
    * and the output rides the SAME compression codec, so on-disk ratios
    * carry over. Range boundaries are SAMPLED from the actual row
    * distribution over (partition dirs..., row hash), so a skewed
    * partition gets proportionally many tasks — files land within ~2× of
    * target whatever the input skew (a task straddling a dir boundary
    * splits its output, the half-files are the 0.5× floor). Partitions
    * smaller than the target still emit one small file each — the hive
    * layout cannot merge across directories.
    */
  def compactTargetBytes(spark: SparkSession, snap: Snapshot, schema: StructType,
                         spec: Option[PartSpec], targetBytes: Long,
                         statsCols: Seq[String] = Nil): Long = {
    require(targetBytes >= 1L, s"targetBytes=$targetBytes")
    import org.apache.spark.sql.functions._
    val plan = planPrune(snap)
    val (totalBytes, _, _) = estimatePruned(plan)
    val targetFiles = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).min(1 << 20).toInt
    val df0 = scanFiles(spark, schema, plan, withMeta = false)
    val df = spec.fold(df0)(_.derive(df0))
    val salt = xxhash64(schema.fieldNames.map(col).toSeq: _*)
    val ranged = spec match {
      case Some(s) =>
        df.repartitionByRange(targetFiles, (s.physNames.map(col) :+ salt): _*)
      case None => df.repartitionByRange(targetFiles, salt)
    }
    withPreShuffled(commit(ranged.select(schema.fieldNames.map(col).toSeq: _*),
      snap, spec, carryForward = false, statsCols, Nil))
  }

  /** OPTIMIZE scoped to ONE partition — the hot-partition case: a
    * streaming table accretes small files in TODAY'S partition, and
    * rewriting the other N-1 partitions of a 100 TB table to fix it is
    * the wrong plan shape. Reads ONLY the named partition (the literal is
    * cast to the column's type so the partition-pruned scan stays a
    * directory prune), rewrites it to AT MOST `filesPerPartition` files
    * (an upper bound, as in [[compact]]: the hash-bucket repartition can
    * land two bucket values in one shuffle task, merging their files —
    * fewer, larger files, never more) with
    * deleted rows baked out, and commits CARRY-FORWARD: untouched
    * partitions' entries ride along unrewritten (their deletion-vector
    * rows stay masked — the DV pointer carries; its stale entries for the
    * replaced files die with them), and the rewrite supersedes every
    * previous entry of the touched partition. Bytes written =
    * O(partition), not O(table). A value matching no partition is a
    * metadata-only no-op version bump.
    *
    * Under a hidden-transform spec `partValue` names a DERIVED value (a day
    * number, a bucket id). Inherits [[commit]]'s carry-forward mixed-layout
    * refusal — a single-partition rewrite cannot retire an evolved-away
    * layout's entries; run the full [[compact]] first.
    */
  def compactPartition(spark: SparkSession, snap: Snapshot, schema: StructType,
                       spec: PartSpec, partValue: String,
                       filesPerPartition: Int = 1,
                       statsCols: Seq[String] = Nil): Long = {
    require(filesPerPartition >= 1, s"filesPerPartition=$filesPerPartition")
    import org.apache.spark.sql.functions._
    val pc = spec.physName
    val df =
      if (spec.isIdentity) {
        // the literal is cast to the column's type so Spark's own
        // partition-dir pruning keeps this a directory-scoped scan
        val dt = schema(pc).dataType
        read(spark, snap, schema).filter(col(pc) === lit(partValue).cast(dt))
      } else {
        // hidden or composite spec: the derived value(s) exist only in the
        // dir name — assemble exactly that directory (derived values render
        // via String.valueOf, the same form partDirName escapes). For a
        // composite spec, `partValue` names the FULL nested dir path
        // (`ts_day=19723/user_id_bucket=3`) — one hive segment per field.
        val dirName = spec match {
          case m: PartSpec.Multi =>
            require(m.matchesLayout(partValue),
              s"composite spec ${m.render}: partValue must be the full dir " +
                s"path ${m.physNames.map(_ + "=<v>").mkString("/")}, got '$partValue'")
            partValue
          case _ => pc + "=" + org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName(partValue)
        }
        spec.derive(scanFiles(spark, schema,
          planPrune(snap, restrictTo = Some(Set(dirName))), withMeta = false))
      }
    val out =
      if (filesPerPartition == 1) df.repartition(spec.physNames.map(col): _*)
      else df.repartition((spec.physNames.map(col) :+
        pmod(xxhash64(schema.fieldNames.filterNot(spec.physNames.contains)
          .map(col).toSeq: _*), lit(filesPerPartition.toLong))): _*)
    // as in [[compact]]: re-select the declared schema before the commit
    withPreShuffled(commit(out.select(schema.fieldNames.map(col).toSeq: _*),
      snap, Some(spec), carryForward = true, statsCols, Nil))
  }

  /** OPTIMIZE ZORDER — multi-column clustering compaction: rewrite the
    * current snapshot ordered along a Z-curve over `zorderBy`, so the
    * [[readPruned]] zone maps become selective on EVERY listed column at
    * once (a linear sort clusters one column and leaves the others
    * shuffled; the space-filling curve gives each file a tight bounding
    * box in all dimensions — the Delta/Iceberg `OPTIMIZE ZORDER BY`
    * mechanism).
    *
    * Each column is quantized to a 16-bit rank against its observed
    * [min, max] (one stats aggregate, broadcast — the histogram shape),
    * the ranks bit-interleave into the Z-value, and a range repartition on
    * (partition, z) hands every output file a contiguous Z-interval:
    * range boundaries come from Spark's reservoir sampling, so hot
    * partitions get proportionally more files while file SIZES stay
    * bounded by `targetFiles` overall. Zone maps for `zorderBy` (plus
    * `statsCols`) publish with the commit; `carryForward = false` as in
    * [[compact]], so compact-then-vacuum reclaims the fragmented layout.
    *
    * Numeric/timestamp columns only (quantization needs an order-preserving
    * cast to double). Under a hidden-transform spec the range partitioner
    * clusters on (derived partition value, z), so the Z-curve stays
    * partition-local exactly as with an identity layout.
    */
  def compactZOrder(spark: SparkSession, snap: Snapshot, schema: StructType,
                    spec: Option[PartSpec], zorderBy: Seq[String],
                    targetFiles: Int, statsCols: Seq[String] = Nil): Long = {
    require(zorderBy.nonEmpty && zorderBy.size <= 3,
      s"zorderBy must hold 1-3 columns (3×16 bits keeps z positive), got ${zorderBy.size}")
    require(targetFiles >= 1, s"targetFiles=$targetFiles")
    import org.apache.spark.sql.functions._
    val df0 = read(spark, snap, schema)
    val df = spec.fold(df0)(_.derive(df0))
    val aggs = zorderBy.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"mn_$c"),
      max(col(c).cast("double")).as(s"mx_$c")))
    val statsRow = df.agg(aggs.head, aggs.tail: _*)
    val k = zorderBy.size
    val withStats = df.crossJoin(broadcast(statsRow))
    // 16-bit rank per column: NULL at 0, values in [1, 65535]
    val quant = zorderBy.map { c =>
      val x = col(c).cast("double")
      val span = col(s"mx_$c") - col(s"mn_$c")
      coalesce(when(span === 0d, lit(0L)).otherwise(
        least(lit(65534L), floor((x - col(s"mn_$c")) / span * 65535d))), lit(-1L)) + 1L
    }
    val z = (0 until 16).flatMap { b =>
      quant.zipWithIndex.map { case (q, i) =>
        shiftleft(shiftright(q, b).bitwiseAND(lit(1L)), b * k + i)
      }
    }.reduce(_ + _) // bit positions are disjoint: sum == OR
    val keyed = withStats.withColumn("__z", z)
    val ranged = spec match {
      case Some(s) => keyed.repartitionByRange(targetFiles,
        (s.physNames.map(col) :+ col("__z")): _*)
      case None => keyed.repartitionByRange(targetFiles, col("__z"))
    }
    val out = ranged.sortWithinPartitions(col("__z"))
      .select(schema.fieldNames.map(col).toSeq: _*)
    withPreShuffled(commit(out, snap, spec, carryForward = false,
      (zorderBy ++ statsCols).distinct, Nil))
  }

  /** Table health report — one row per live data version: its manifest
    * references, file count, and bytes, plus the current deletion-vector
    * row count. The DESCRIBE DETAIL-style telemetry an operator reads
    * before deciding to [[compact]] (many small files), [[vacuum]] (dead
    * versions), or purge ([[deleteWhere]] backlog). The unhinted
    * [[planPrune]] of the current version — O(files) metadata, no data scan.
    */
  def detail(spark: SparkSession, root: String): Seq[(Long, Int, Int, Long)] = {
    val plan = planPrune(snapshot(spark, root))
    val refs = plan.snap.entries.groupBy(_._2)
    plan.kept.map { case (dataV, _, files) =>
      (dataV, refs(dataV).size, files.size, files.map(_._2.getLen).sum)
    }
  }

  /** Per-manifest-version commit history — (version, partitionEntries,
    * dvPointer, isCurrent, commitTsMicros) for every manifest still on
    * disk, the `t.history` metadata table's source ([[GraftMetaTable]]).
    * O(manifests) metadata reads; vacuumed-away versions simply stop
    * appearing.
    */
  def history(spark: SparkSession,
              root: String): Seq[(Long, Int, Option[Long], Boolean, Option[Long])] = {
    val (fs, rootP) = fsOf(spark, root)
    val listed = listRoot(fs, rootP)
    val cur = listed.head
    listed.versions.map { v =>
      val m = manifestAt(fs, rootP, v)
      (v, m.entries.size, m.dv, cur.contains(v), m.ts)
    }
  }

  /** Live data files of the current snapshot — (schemeFreePath,
    * partitionDir, dataVersion, bytes) — with each file's SKIPPING SIDECAR
    * view, the "why was this file (not) pruned" answer `t.files` surfaces:
    * per-column zone ranges `(col, tag, min, max, allNull)` exactly as
    * [[planPrune]] evaluates them, and the columns carrying a Bloom filter.
    * Files and lengths come from the unhinted plan; paths normalize
    * exactly like the deletion vector's keys (`SpjBridge.fileKey`), so they join
    * against `__f` provenance directly under any partition value. O(live
    * dirs) listings + O(data versions) sidecar reads, no data scan.
    */
  def liveFileSkipping(spark: SparkSession, snap: Snapshot)
      : Seq[(String, String, Long, Long, Seq[(String, Char, String, String, Boolean)], Seq[String])] = {
    val (fs, rootP) = (snap.fs, snap.rootP)
    planPrune(snap).kept.flatMap { case (dv, _, files) =>
      val stats = loadStats(fs, rootP, dv).getOrElse(Map.empty)
      val blooms = loadBlooms(fs, rootP, dv).getOrElse(Map.empty)
      files.map { case (rel, st) =>
        val part = if (rel.contains("/")) rel.substring(0, rel.lastIndexOf('/')) else ""
        val zones = stats.getOrElse(rel, Map.empty).toSeq
          .filterNot(_._1 == RowsCol) // row-count pseudo-entry, not a zone
          .sortBy(_._1)
          .map { case (c, z) => (c, z.tag, z.minS, z.maxS, z.allNull) }
        val bloomCols = blooms.getOrElse(rel, Map.empty).keys.toSeq.sorted
        (SpjBridge.fileKey(st.getPath.toUri.toString), part, dv, st.getLen, zones, bloomCols)
      }
    }
  }

  /** RESTORE — roll the table back to a still-on-disk version by
    * publishing a NEW manifest with the old version's entries and DV
    * pointer (Delta `RESTORE TABLE ... TO VERSION`): pure metadata, zero
    * data I/O, and history is preserved — the bad versions stay readable
    * for forensics until [[vacuum]] reclaims them, while every reader
    * flips to the restored snapshot at the manifest rename. Fails loudly
    * on a commit collision like every snapshot-shaped commit (a restore
    * never commutes). Returns the new manifest version.
    */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val (fs, rootP) = fsOf(spark, root)
    val listed = listRoot(fs, rootP)
    if (!listed.versions.contains(toVersion))
      throw new IllegalStateException(
        s"restore: $root has no version $toVersion on disk (vacuumed or never committed)")
    val cur = listed.head.get
    val hasRefs = listed.hasRefs
    // branched: claim above the GLOBAL max (another lineage may hold cur+1)
    // and advance this ref's marker; the #parent keeps fast-forward walkable
    val next = (if (hasRefs) math.max(listed.maxVersion, cur) else cur) + 1
    val target = manifestAt(fs, rootP, toVersion)
    def pub(): Unit = publishManifest(fs, rootP, next, target.entries, target.dv,
      manifestIfAny(fs, rootP, cur))
    if (hasRefs) {
      withDirective(s"#ref\t$currentRef")(
        withDirective(s"#parent\t$cur")(pub()))
      refMark(fs, rootP, currentRef, next)
    } else pub()
    next
  }

  /** Row count of the current snapshot from METADATA only: live data
    * files' parquet footer row counts, minus the cardinalities of those
    * files' deletion-vector bitmaps — O(files) footer reads and no Spark
    * job, never a data scan (the `SELECT count(*)` fast path a lakehouse
    * serves from its manifest). DV bitmaps of files a later rewrite
    * superseded are inert and are NOT subtracted.
    */
  def rowCount(spark: SparkSession, root: String): Long = rowCount(spark, snapshot(spark, root))

  /** [[rowCount]] of a resolved snapshot. */
  def rowCount(spark: SparkSession, snap: Snapshot): Long = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val plan = planPrune(snap)
    val files = plan.files.map(_._2.getPath)
    val total = files.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, snap.fs.getConf))
      try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally reader.close()
    }.sum
    val dv = plan.dv.fold(Map.empty: Dv)(dvBitmaps(spark, snap.root, _))
    total - files.flatMap(p => dv.get(SpjBridge.fileKey(p.toUri.toString)))
      .map(_.getLongCardinality).sum
  }

  /** Rows currently masked by the table's deletion vector (0 when none) —
    * the purge-backlog gauge for [[detail]]'s consumers; no Spark job.
    */
  def deletedRowCount(spark: SparkSession, root: String): Long =
    snapshot(spark, root).dv.fold(0L)(
      dvBitmaps(spark, root, _).values.map(_.getLongCardinality).sum)

  /** Exact global (min, max) of a top-level NUMERIC column across the
    * current snapshot, answered from zone-map sidecars only — O(files)
    * driver-side metadata, zero data I/O (the `SELECT min(x) FROM t` fast
    * path a lakehouse serves from its manifest; the aggregate-pushdown
    * seam in [[graft.sources.GraftScanBuilder]] rides this). Returns
    * `None` (cannot answer exactly — caller must scan) when:
    *  - any live data version committed without a `_stats` sidecar, or any
    *    live file lacks a zone for the column (a partition column never
    *    has one — it is directory-encoded, not in the footers);
    *  - the zone tag isn't numeric ('L'/'D'): parquet BINARY footer stats
    *    may be TRUNCATED bounds, exact only as a pruning range, never as a
    *    min/max answer;
    *  - a deletion vector is present — a masked row could hold the
    *    extreme, so the zone bound is no longer attained.
    * `Some(None)` = the column is NULL in every live row (SQL `min` =
    * NULL); `Some(Some((tag, minS, maxS)))` otherwise, bounds as the
    * sidecar's locale-free strings ('L' parses as Long, 'D' as Double).
    */
  def colBounds(spark: SparkSession, root: String,
                column: String): Option[Option[(Char, String, String)]] =
    colBounds(spark, snapshot(spark, root), column)

  /** [[colBounds]] of a resolved snapshot. */
  def colBounds(spark: SparkSession, snap: Snapshot,
                column: String): Option[Option[(Char, String, String)]] = {
    if (snap.version.isEmpty) return Some(None)
    // the DV check lists nothing: a DV table declines before planning
    if (snap.dv.isDefined) return None
    val zones = scala.collection.mutable.ArrayBuffer[ColZone]()
    planPrune(snap).kept.foreach { case (dv, _, files) =>
      val stats = loadStats(snap.fs, snap.rootP, dv).getOrElse(return None)
      files.foreach { case (rel, _) =>
        stats.get(rel).flatMap(_.get(column)) match {
          case Some(z) if z.tag == 'L' || z.tag == 'D' => zones += z
          case _ => return None
        }
      }
    }
    val nn = zones.filterNot(_.allNull).toSeq
    if (nn.isEmpty) Some(None)
    // Mixed tags (physical int64/double drift across data versions of a
    // path-first table) would .toLong a double string — decline, don't throw.
    else if (nn.map(_.tag).distinct.size > 1) None
    else Some(Some(nn.head.tag match {
      case 'L' => ('L', nn.map(_.minS.toLong).min.toString,
        nn.map(_.maxS.toLong).max.toString)
      case _ =>
        val mins = nn.map(_.minS.toDouble)
        val maxs = nn.map(_.maxS.toDouble)
        // Parquet double footer stats are NaN-unsafe: depending on writer
        // vintage a NaN row either poisons min/max or is silently skipped,
        // while Spark's aggregate ordering ranks NaN greatest — a footer
        // answer could differ from the scan answer. Decline when any bound
        // is non-finite; a finite bound can still hide skipped NaNs only in
        // writers that drop them, which also drop the stats entirely for
        // all-NaN pages — the conservative rule below also refuses bounds
        // equal to ±Infinity for the same reason.
        if (mins.exists(d => d.isNaN || d.isInfinite) ||
            maxs.exists(d => d.isNaN || d.isInfinite)) return None
        ('D', mins.min.toString, maxs.max.toString)
    }))
  }

  /** Reclaim manifests more than `retainVersions` behind current, and data
    * versions none of the RETAINED manifests reference (plus stray commit
    * temp files) — bounded retention for a long-lived table.
    *
    * `retainVersions = 0` keeps only the current snapshot — correct for an
    * offline maintenance pass with no concurrent readers. An INLINE vacuum
    * (e.g. per CDC micro-batch commit) must pass `retainVersions >= 1`: a
    * concurrent reader that resolved manifest N just before the writer
    * committed N+1 is still scanning N's data versions, and a retain-0
    * vacuum would delete them mid-scan. Retaining one version behind makes
    * the read safe for the duration of one commit cycle — the same
    * retention-window contract as Delta/Iceberg VACUUM (where the window is
    * time-based rather than version-based).
    */
  // ========================= snapshot tags ============================
  //
  // Named, immutable version pins (Iceberg tags): `VERSION AS OF
  // 'baseline'` resolves through them, and [[vacuum]] NEVER reclaims a
  // tagged manifest or the data/DV/sidecars it references — the audit
  // and reproducibility primitive ("the snapshot we trained on", "the
  // quarter-close books") that plain retention windows cannot express.
  // One small `_tags.json` sidecar per table, installed via temp+atomic-
  // rename under the same single-writer-DDL contract as `_ddl.json`.

  private val TagsFile = "_tags.json"

  /** All tags: name → pinned manifest version. Tags pointing at versions
    * vacuumed before tag-aware retention existed (or hand-deleted) are
    * surfaced as-is — resolution fails loudly at read time.
    */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val (fs, rootP) = fsOf(spark, root)
    val p = new Path(rootP, TagsFile)
    if (!fs.exists(p)) return Map.empty
    // bounded retry: LocalFileSystem renames the .crc shadow separately
    // from the data rename, so a concurrent re-tag can expose a torn read
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(p)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val it = node.properties().iterator()
        var m = Map.empty[String, Long]
        while (it.hasNext) { val e = it.next(); m += (e.getKey -> e.getValue.asLong()) }
        return m
      } catch {
        case _: java.io.FileNotFoundException => return Map.empty
        case e: org.apache.hadoop.fs.ChecksumException if attempt < 3 =>
          attempt += 1; Thread.sleep(10L << attempt)
      }
    }
    Map.empty // unreachable
  }

  /** Pin `name` to `version` (default: the current manifest version). The
    * version must exist on disk; re-tagging an existing name moves it
    * (single-writer DDL contract, like every sidecar edit). Returns the
    * pinned version.
    */
  def setTag(spark: SparkSession, root: String, name0: String,
             version: Option[Long] = None): Long = {
    val name = name0.trim // resolution trims too — an untrimmed pin would be unreachable
    // toLongOption, not forall(isDigit): '-5' is number-shaped too, and
    // VERSION AS OF resolves numbers BEFORE tags — a number-shaped tag
    // would be permanently unreachable (ADVICE r18)
    require(name.nonEmpty && name.toLongOption.isEmpty,
      s"tag name '$name' must be non-empty and non-numeric (numeric strings " +
        "resolve as literal versions in VERSION AS OF)")
    val (fs, rootP) = fsOf(spark, root)
    val listed = listRoot(fs, rootP)
    require(!listed.refHeads.contains(name),
      s"tag name '$name' collides with an existing branch (both resolve in " +
        "VERSION AS OF)")
    val v = version.getOrElse(listed.head.getOrElse(
      throw new IllegalStateException(s"cannot tag $root: no committed version")))
    require(listed.versions.contains(v),
      s"cannot tag version $v of $root: no such manifest on disk")
    writeTags(fs, rootP, tags(spark, root) + (name -> v))
    v
  }

  /** Remove a tag; its versions become ordinary vacuum candidates again.
    * Returns whether the tag existed.
    */
  def deleteTag(spark: SparkSession, root: String, name: String): Boolean = {
    val (fs, rootP) = fsOf(spark, root)
    val cur = tags(spark, root)
    if (!cur.contains(name)) false
    else { writeTags(fs, rootP, cur - name); true }
  }

  private def writeTags(fs: FileSystem, rootP: Path, m: Map[String, Long]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    val tmp = new Path(rootP,
      "." + TagsFile + "-" + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    if (!fs.rename(tmp, new Path(rootP, TagsFile))) {
      // FS without file-replacing rename: clear and retry once (the tags
      // file is advisory metadata under the single-writer DDL contract)
      fs.delete(new Path(rootP, TagsFile), false)
      require(fs.rename(tmp, new Path(rootP, TagsFile)),
        s"tags sidecar install failed for $rootP")
    }
  }

  // ------------------------------ branches ------------------------------
  //
  // Write-audit-publish (the Iceberg snapshots+refs model): every lineage
  // shares ONE manifest log (version numbers stay globally unique, claimed
  // through the same staged protocol), and a REF — a named head pointer —
  // selects which manifest a reader/writer means by "current". `main` is
  // the implicit ref every session uses; [[onBranch]] retargets a session
  // scope at another ref, so EVERY existing write shape (append, snapshot
  // commit, mergeDv, SQL DML) lands on the branch unchanged, and every
  // read inside the scope audits the branch's snapshot. [[fastForward]]
  // publishes: main := branch head, after an ancestry walk proves main
  // never diverged (each branched commit records its lineage parent as a
  // `#parent` directive, atomic with the manifest rename).
  //
  // A ref head is NOT a mutable file: it is the MAX over append-only
  // `_ref.<name>.<v>` marker files (one atomic create per commit — the
  // exactly-once marker-in-the-filename pattern), so two same-branch
  // writers serialized by the manifest claim can never regress the head
  // by racing a read-modify-write; stale markers are vacuum debris.
  //
  // Change feed × branches (r20): [[changes]] is a NET SNAPSHOT DIFF, so
  // any (ancestor, descendant) window is coherent — a streaming consumer's
  // offsets are consecutive HEADS of one ref and [[fastForward]] admits
  // only ancestor jumps, so CDF keeps working across a fast-forward
  // without re-seeding. The remaining hazard — a window whose endpoints
  // sit on DIFFERENT lineages (raw version arithmetic across a foreign
  // branch's interleaved numbers) — is refused loudly by the `#parent`
  // ancestry walk inside [[changes]].

  private val RefPrefix = "_ref."
  val MainRef = "main"

  // a PLAIN ThreadLocal, deliberately not DynamicVariable: DynamicVariable
  // rides an InheritableThreadLocal, and any pool thread Spark creates
  // inside an onBranch scope would inherit the branch FOREVER — leaking
  // branch reads into later main queries. Plain ThreadLocal fails toward
  // main instead; reads pin their version at plan time on the calling
  // thread, so execution threads never consult the ref.
  private val commitRefTL = new ThreadLocal[Option[String]] {
    override def initialValue(): Option[String] = None
  }
  private def withRef[T](v: Option[String])(f: => T): T = {
    val prev = commitRefTL.get(); commitRefTL.set(v)
    try f finally commitRefTL.set(prev)
  }

  /** The session-scope ref name — `main` unless inside [[onBranch]]. */
  private[sources] def currentRef: String = commitRefTL.get().getOrElse(MainRef)

  /** Run `f` with every read resolving and every commit landing on branch
    * `name` — the WAP scope. Thread-scoped like [[withDirective]] (commits
    * funnel through this thread); streaming queries spawn their own
    * threads and are NOT branch-scoped.
    */
  def onBranch[T](name: String)(f: => T): T = {
    require(name == MainRef || validRefName(name), s"invalid branch name '$name'")
    withRef(Some(name).filterNot(_ == MainRef))(f)
  }

  private def validRefName(n: String): Boolean =
    n.nonEmpty && n.toLongOption.isEmpty && n != MainRef &&
      n.forall(c => c.isLetterOrDigit || c == '_' || c == '-')

  /** Branch → head version. Empty for unbranched tables. */
  def refs(spark: SparkSession, root: String): Map[String, Long] =
    listRoot(spark, root).refHeads

  private def refMark(fs: FileSystem, rootP: Path, name: String, v: Long): Unit =
    fs.create(new Path(rootP, RefPrefix + name + "." + fmt(v)), true).close()

  /** Ref `refName`'s EFFECTIVE head: `from` advanced along any chain of
    * published-but-not-yet-ref-marked children of the same lineage. The
    * ref marker is a SEPARATE create AFTER the manifest rename, so a
    * writer inside that publish→refMark window (or crashed in it) is
    * invisible to [[refs]] yet durably committed — the manifest rename is
    * the commit point. A second same-ref writer that ignored such a child
    * and slid to a fresh number would publish a SIBLING of the same
    * parent; head = max marker would then silently drop the child's rows
    * although its writer returned success (ADVICE r19). Children are
    * matched on BOTH directives each branched commit stamps atomically
    * with its rename: `#parent` == the walk's current head AND `#ref` ==
    * this ref — parent alone cannot tell two lineages forked at the same
    * version apart. Manifests from before the `#ref` stamp (or whose body
    * vanishes mid-walk to a concurrent vacuum) are never adopted — that
    * fails toward the pre-fix behavior, not toward adopting a foreign
    * commit. An ambiguous fork (two published same-ref children of one
    * parent — reachable only through the documented claim grace-window
    * clobber) resolves to the LOWEST-numbered child, deterministically.
    */
  private def sameLineageHead(l: RootListing, refName: String,
                              from: Option[Long]): Option[Long] = {
    var h = from
    val above = l.versions.filter(_ > h.getOrElse(0L))
    if (above.isEmpty) return h
    val meta: Map[Long, (Option[Long], Option[String])] = above.flatMap { v =>
      try {
        val m = manifestAt(l.fs, l.rootP, v)
        Some(v -> (m.directive("parent").flatMap(_.toLongOption), m.directive("ref")))
      } catch { case _: java.io.IOException => None }
    }.toMap
    var advanced = true
    while (advanced) {
      val cur = h.getOrElse(0L)
      above.find(v => v > cur && meta.get(v).contains((Some(cur), Some(refName)))) match {
        case Some(c) => h = Some(c)
        case None => advanced = false
      }
    }
    h
  }

  /** Create branch `name` at the current MAIN head (materializing main's
    * own marker on first use — the moment a table becomes "branched").
    * Returns the fork version. Single-writer DDL-family contract.
    */
  def createBranch(spark: SparkSession, root: String, name: String): Long = {
    require(validRefName(name),
      s"branch name '$name' must be non-empty, non-numeric, not '$MainRef', " +
        "and use only letters, digits, '_', '-'")
    require(!tags(spark, root).contains(name),
      s"branch name '$name' collides with an existing tag (both resolve in " +
        "VERSION AS OF)")
    val (fs, rootP) = fsOf(spark, root)
    val listed = listRoot(fs, rootP)
    val cur = withRef(None)(listed.head).getOrElse(
      throw new IllegalStateException(s"cannot branch $root: no committed version"))
    require(!listed.refHeads.contains(name), s"branch '$name' already exists on $root")
    if (!listed.hasRefs) refMark(fs, rootP, MainRef, cur)
    refMark(fs, rootP, name, cur)
    cur
  }

  /** Drop branch `name` (never `main`); its exclusive snapshots become
    * ordinary vacuum candidates. Returns whether it existed.
    */
  def dropBranch(spark: SparkSession, root: String, name: String): Boolean = {
    require(name != MainRef, "cannot drop the main branch")
    val (fs, rootP) = fsOf(spark, root)
    val mine = listRoot(fs, rootP).refMarkers.filter(_._1 == name)
    mine.foreach(m => fs.delete(m._3.getPath, false))
    mine.nonEmpty
  }

  /** Publish: main := branch head, METADATA-ONLY (one marker create), iff
    * main is an ANCESTOR of the branch head — walked down the `#parent`
    * directives each branched commit records; a diverged main refuses
    * loudly (fast-forward would silently drop main's own commits).
    * Returns the new main head.
    */
  def fastForward(spark: SparkSession, root: String, name: String): Long = {
    val (fs, rootP) = fsOf(spark, root)
    val heads = refs(spark, root)
    val bHead = heads.getOrElse(name, throw new IllegalArgumentException(
      s"fast_forward: no such branch '$name' on $root — known: " +
        heads.keys.toSeq.sorted.mkString(", ")))
    val mHead = heads.getOrElse(MainRef, throw new IllegalStateException(
      s"fast_forward: $root has branch markers but no main marker (corrupt refs)"))
    if (bHead == mHead) return mHead
    var v = bHead
    var reached = false
    while (!reached && v > mHead)
      manifestAt(fs, rootP, v).directive("parent").flatMap(_.toLongOption) match {
        case Some(p) => if (p == mHead) reached = true else v = p
        case None => v = -1L
      }
    require(reached,
      s"fast_forward: main (at $mHead) is not an ancestor of branch '$name' " +
        s"(at $bHead) — main advanced since the fork; merge the branch's " +
        "changes explicitly instead")
    refMark(fs, rootP, MainRef, bHead)
    bHead
  }

  /** Reclaim history. Two retention windows, UNION-ed when both given
    * (the conservative compose): `retainVersions` keeps that many
    * manifests behind main's head (the count window inline per-commit
    * vacuums use — must stay >= 1 there, or a concurrent reader's
    * resolved snapshot vanishes mid-scan), and `olderThanMicros` keeps
    * every version committed AT OR AFTER the cutoff (the wall-clock
    * window operators actually think in — `#ts` stamps are monotone per
    * r16, so "first version at/after the cutoff" is a well-defined
    * floor). Versions predating the `#ts` directive count as old. The
    * current head, tagged versions, and branch heads survive any window.
    * The retention decision and the sweep read ONE root listing, so a
    * file created after it is never deleted by this run. Returns the
    * session ref's head from that listing (vacuum never moves a head).
    */
  def vacuum(spark: SparkSession, root: String, retainVersions: Int = 0,
             olderThanMicros: Option[Long] = None): Option[Long] = {
    require(retainVersions >= 0, s"retainVersions must be >= 0, got $retainVersions")
    val (fs, rootP) = fsOf(spark, root)
    val listed = listRoot(fs, rootP)
    // the retention window floors on MAIN whatever scope called us —
    // vacuum is a whole-table operation, not a per-branch one
    withRef(None)(listed.head).foreach { cur =>
      val floorByTime = olderThanMicros.map { cutoff =>
        listed.versions
          .find(v => manifestAt(fs, rootP, v).ts.exists(_ >= cutoff)) // ascending + monotone ts
          .getOrElse(cur)
      }
      val floor = floorByTime.fold(cur - retainVersions)(ft =>
        math.min(cur - retainVersions, ft))
      // TAGGED manifests and BRANCH HEADS are retained whatever the
      // window — along with every data version, DV, and skipping sidecar
      // they reference (a tag is a promise that `VERSION AS OF 'name'`
      // keeps answering; a branch head is a promise its lineage stays
      // readable and fast-forwardable)
      val tagged = ((if (listed.hasTags) tags(spark, root).values else Nil) ++
        listed.refHeads.values).toSet.filter(listed.versions.contains)
      val retained = listed.versions.filter(v => v >= floor || tagged.contains(v))
      val manifests = retained.map(manifestAt(fs, rootP, _))
      val live = manifests.flatMap(_.entries.map(_._2)).toSet
      val liveDv = manifests.flatMap(_.dv).toSet
      // the one staged-DDL file that may still hold schema authority: the
      // NEWEST retained manifest's #ddl payload (see GraftDdl — an
      // unpromoted RTAS schema flip). Everything else .ddl-* is debris
      // from a crashed-before-commit or superseded RTAS.
      val liveDdl = manifests.reverseIterator.flatMap(_.directive("ddl")).nextOption()
      // superseded ref markers (head = max per name; the rest is debris)
      val superseded = listed.refMarkers.collect {
        case (ref, v, st) if v < listed.refHeads(ref) => st.getPath.getName
      }.toSet
      // crashed manifest, tag and sidecar installs' staging debris
      val tmps = Seq(".manifest-", "." + TagsFile + "-", "." + GraftDdl.FileName + "-")
      listed.entries.foreach { st =>
        val n = st.getPath.getName
        val at = numberAfter(n, _: String)
        if (st.isDirectory) {
          if (at("v").exists(live.contains))
            // live version: reclaim a claim marker a crash between publish
            // and marker-delete left behind (harmless to scans, but bounded
            // cleanup belongs here)
            fs.listStatus(st.getPath).filter(_.getPath.getName.startsWith(".claim-"))
              .foreach(m => fs.delete(m.getPath, false))
          // reclaimed data versions and their deletion vectors; crashed
          // commits' orphaned stages — vacuum must not run concurrently
          // with an in-flight commit (the same retention-window contract
          // as the version floor)
          else if (at("v").isDefined || at("d").exists(!liveDv.contains(_)) ||
              n.startsWith(".stage-"))
            fs.delete(st.getPath, true)
        } else if (at(ManifestPrefix).exists(v => v < floor && !tagged.contains(v)) ||
            // zone maps, bloom sidecars and NDV sketches of reclaimed versions
            Seq(StatsPrefix, BloomPrefix, NdvPrefix).exists(at(_).exists(!live.contains(_))) ||
            superseded.contains(n) ||
            (tmps.exists(n.startsWith) && n.endsWith(".tmp")) ||
            // crashed/superseded RTAS staged schemas (same
            // no-in-flight-commit contract as .stage-*)
            (listed.stagedDdl.contains(n) && !liveDdl.contains(n)))
          fs.delete(st.getPath, false)
      }
      // ChecksumFileSystem hides `.crc` sidecars from listStatus — sweep
      // manifest-tmp crcs orphaned by pre-fix commits with raw nio
      if (fs.getScheme == "file") {
        val dir = java.nio.file.Paths.get(fs.makeQualified(rootP).toUri.getPath)
        val it = java.nio.file.Files.list(dir)
        try it.forEach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("..manifest-") && n.endsWith(".tmp.crc"))
            java.nio.file.Files.deleteIfExists(p)
        } finally it.close()
      }
    }
    listed.head
  }
}
